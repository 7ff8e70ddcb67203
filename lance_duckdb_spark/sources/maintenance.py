"""Spark-level table maintenance over lance datasets: upsert/merge.

Beyond the reference's scan+write surface, but required for "switch
your tables to this connector" completeness.

``upsert`` is fragment-pruned: using the per-fragment zone maps, it
only rewrites fragments whose key range overlaps the update keys —
untouched fragments are carried into the new version by reference
(zero IO). At 100 TB, an upsert touching one day of a
date-fragmented table rewrites that day's fragments only. The
rewrite itself is one distributed anti-join + union through the
lance writer; the final commit publishes carried + rewritten
fragments as ONE new version (readers see pre- or post-merge state,
never a mix).
"""

from __future__ import annotations

import os
import shutil

from . import iolayer as iol
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..session import local_frame
from . import lance_format as lf
from .datasource import register


def _overlaps(fragment: lf.Fragment, key: str, lo, hi) -> bool:
    if lo is None or hi is None:
        return False  # empty update set overlaps nothing
    rng = (fragment.stats or {}).get(key)
    if not rng:
        return True  # no stats: must assume overlap
    mn, mx = rng
    try:
        return not (hi < mn or lo > mx)
    except TypeError:
        return True


def _committed_schema(manifest):
    import json as _json

    from pyspark.sql.types import StructType

    return StructType.fromJson(_json.loads(manifest.schema_json))


def upsert(
    spark: SparkSession, root: str, updates: DataFrame, key: str
) -> None:
    """Merge ``updates`` into the dataset at ``root`` by ``key``:
    a KEY-SET REPLACE — every stored row whose key appears in
    updates is dropped, every update row lands (so multiple update
    rows per key replace the key's whole row-set; one-row-per-key
    merges must deduplicate first). Updates must carry exactly the
    dataset's schema — validated in both the overlapping and the
    pure-append path (r8 review)."""
    register(spark)
    manifest = lf.read_manifest(root)
    # by-name fragment reads below (r13 guard: renamed
    # physical columns would silently null-fill)
    lf.require_physical_identity(manifest, "upsert")
    # schema check runs in BOTH paths: with no overlapping fragment
    # the old flow committed updates verbatim under the old
    # schema_json — a missing column silently null-filled on read, an
    # extra one silently vanished (r8 review; the overlap path's
    # unionByName raised loudly for the same input)
    committed = _committed_schema(manifest)
    want = {f.name: f.dataType for f in committed.fields}
    got = {f.name: f.dataType for f in updates.schema.fields}
    if want != got:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        retyped = sorted(
            n for n in set(want) & set(got) if want[n] != got[n]
        )
        raise lf.LanceDatasetError(
            "upsert updates schema does not match the dataset: "
            f"missing={missing} extra={extra} retyped={retyped}"
        )
    _merge_commit(
        spark, root, manifest, committed, updates.select(key), updates, key
    )


def delete_keys(spark: SparkSession, root: str, keys: DataFrame, key: str) -> None:
    """Key-set DELETE through the same fragment-pruned rewrite as
    ``upsert`` (the MERGE ``WHEN MATCHED THEN DELETE`` lowering):
    every stored row whose ``key`` appears in ``keys`` is dropped;
    fragments outside the key bounds are carried by reference, zero
    IO. Unlike ``lance_format.delete_where`` (a row-value predicate,
    optionally via deletion vectors), the key set here is a
    DataFrame — the match runs as a distributed anti-join, never a
    driver-side key list, so a 10^9-key delete is one shuffle.
    NULL keys are dropped from the key set first (SQL semantics:
    NULL = x is never true, so a NULL key deletes nothing)."""
    from pyspark.sql import functions as F

    register(spark)
    manifest = lf.read_manifest(root)
    # by-name fragment reads below (r13 guard: renamed
    # physical columns would silently null-fill)
    lf.require_physical_identity(manifest, "delete_keys")
    _merge_commit(
        spark,
        root,
        manifest,
        _committed_schema(manifest),
        keys.select(key).where(F.col(key).isNotNull()),
        None,
        key,
    )


def delete_where_sql(spark: SparkSession, root: str, predicate_sql: str) -> int:
    """SQL-predicate DELETE lowered onto deletion vectors,
    END-TO-END DISTRIBUTED (r11 — closes the last driver funnel in
    the DML path): the predicate is evaluated BY SPARK (full Spark
    SQL expression power, distributed across fragment tasks) against
    the committed schema; matching physical (file, position) pairs
    stay in the cluster — they are repartitioned by fragment and
    each hit fragment's task MERGES the existing mask and WRITES the
    new per-fragment deletion file executor-side
    (``_commit_deletion_hits``). The driver sees only O(hit
    fragments) metadata rows (file, new deletion-file path, counts)
    and commits ONE new version; peak driver memory is independent
    of how many rows the statement deletes. Fragment data files are
    untouched (O(matches) metadata — the only delete that stays
    cheap at 100 TB). Rows already deleted never re-match (the
    existing masks — also read worker-side, never materialized on
    the driver — are anti-joined before evaluation); a NULL
    predicate result KEEPS the row (SQL DELETE semantics). Returns
    the number of newly deleted rows.

    Reference anchor: Lance proper writes a fragment's
    ``_deletions/`` side file from whichever worker processes that
    fragment, never centrally (rust DeleteJob); this is the Spark
    equivalent."""
    from pyspark.sql import functions as F

    manifest = lf.read_manifest(root)
    # by-name fragment reads below (r13 guard: renamed
    # physical columns would silently null-fill)
    lf.require_physical_identity(manifest, "DELETE")
    if not manifest.fragments:
        return 0
    committed = _committed_schema(manifest)
    paths = [
        iol.spark_read_path(os.path.join(root, f.file))
        for f in manifest.fragments
    ]
    df = (
        spark.read.schema(committed)
        .parquet(*paths)
        .withColumn("__file", F.col("_metadata.file_name"))
        .withColumn("__pos", F.col("_metadata.row_index"))
    )
    df = _anti_join_masks(
        spark, root, df, manifest.fragments
    )
    hits = df.where(F.expr(predicate_sql)).select("__file", "__pos")
    return _commit_deletion_hits(spark, root, manifest, hits)


# Mask-size pivot between the two _deletion_masks_df strategies: the
# manifest's per-fragment num_deleted (free, no IO) bounds the driver
# allocation BEFORE choosing, so the inline path is never an
# unbounded funnel — 100k (file, pos) rows is a ~few-MB broadcast.
MASK_INLINE_MAX = 100_000


def _deletion_masks_df(spark: SparkSession, root: str, fragments):
    """Existing deletion masks of ``fragments``; returns None when no
    fragment carries a mask. Two strategies, chosen by the TOTAL
    deletion count the manifest already records (never by reading
    mask files first):

    - ``<= MASK_INLINE_MAX``: a ``(__file, __pos)`` frame, driver-read
      and broadcast — explicitly BOUNDED (unlike the r10
      implementation, which always built this frame from a
      driver-side list of every position — an unbounded O(total
      deletions) driver allocation; at 100 TB a 1%-deleted table is
      ~10^9 Row objects). At interactive scale this saves two scan
      jobs per DML statement.
    - above the cap: a ``(__dfile, __pos)`` frame keyed by the
      deletion file's basename — the ``_deletions/*.json`` side
      files are read by Spark's JSON source inside tasks and
      exploded to positions worker-side, so positions never
      materialize on the driver. ``_join_masks`` maps the scan's
      fragments to their deletion files instead of joining this
      side, so it keeps its file-size estimate and Spark's own
      ``autoBroadcastJoinThreshold`` decides whether it broadcasts."""
    from pyspark.sql import functions as F

    with_dels = [f for f in fragments if f.deletion_file]
    if not with_dels:
        return None
    if sum(f.num_deleted for f in with_dels) <= MASK_INLINE_MAX:
        return F.broadcast(
            local_frame(
                spark,
                [
                    (os.path.basename(f.file), int(p))
                    for f in with_dels
                    for p in lf.read_deletion_positions(root, f)
                ],
                schema="__file string, __pos long",
            )
        )
    return (
        spark.read.schema("positions array<long>")
        .json(
            [
                iol.spark_read_path(os.path.join(root, f.deletion_file))
                for f in with_dels
            ]
        )
        .select(
            F.col("_metadata.file_name").alias("__dfile"),
            F.explode("positions").alias("__pos"),
        )
    )


def _join_masks(spark: SparkSession, root: str, df, fragments, how: str):
    """Join a ``(__file, __pos)``-tagged scan of ``fragments`` with
    their existing deletion masks: ``how="left_anti"`` drops masked
    rows, ``"left_semi"`` keeps only them. Above the inline cap each
    scanned row gets its fragment's deletion file from a broadcast
    ``(__file, __dfile)`` frame of O(fragments) rows, and the join
    runs on ``(__dfile, __pos)``. Joining that frame to the mask side
    instead would make Catalyst (without CBO) size the mask side as
    the product of its inputs, so it would not broadcast and the scan
    would be shuffled into a sort-merge join."""
    from pyspark.sql import functions as F

    masks = _deletion_masks_df(spark, root, fragments)
    if masks is None:
        return df if how == "left_anti" else df.where(F.lit(False))
    if "__dfile" not in masks.columns:
        return df.join(masks, ["__file", "__pos"], how)
    dfiles = local_frame(
        spark,
        [
            (os.path.basename(f.file), os.path.basename(f.deletion_file))
            for f in fragments
            if f.deletion_file
        ],
        schema="__file string, __dfile string",
    )
    return (
        df.join(F.broadcast(dfiles), "__file", "left")
        .join(masks, ["__dfile", "__pos"], how)
        .drop("__dfile")
    )


def _anti_join_masks(spark: SparkSession, root: str, df, fragments):
    """Drop already-deleted rows of a ``(__file, __pos)``-tagged
    fragment scan (see ``_join_masks``)."""
    return _join_masks(spark, root, df, fragments, "left_anti")


def _commit_deletion_hits(
    spark: SparkSession, root: str, manifest, hits
) -> int:
    """Mask the NEW deletion hits (a distributed ``(__file, __pos)``
    frame; caller guarantees already-deleted rows are excluded) and
    commit ONE new version. The per-fragment deletion files are
    written EXECUTOR-SIDE: hits are repartitioned by fragment, each
    group task unions the fragment's existing mask (read in-task)
    with its new positions and writes the merged side file with the
    same tmp+rename discipline as ``lance_format.write_deletion_file``;
    only O(hit fragments) metadata rows (fragment, new side-file
    path, counts) return to the driver, which swaps the manifest
    pointers and commits. A retried/speculative task can leave an
    orphaned (never-referenced) ``_deletions/`` file — harmless,
    reclaimed by VACUUM like any unreferenced side file. Returns the
    number of newly deleted rows; zero hits commit nothing (true
    no-op, no new version)."""
    existing = {
        os.path.basename(f.file): f.deletion_file
        for f in manifest.fragments
    }

    def _write_group(pdf):
        import json as _json
        import os as _os
        import uuid as _uuid

        import pandas as _pd

        fname = pdf["__file"].iloc[0]
        new = {int(p) for p in pdf["__pos"]}
        n_new = len(new)
        prior = existing.get(fname)
        if prior:
            new |= set(
                _json.loads(iol.read_text(_os.path.join(root, prior)))[
                    "positions"
                ]
            )
        rel = _os.path.join(lf.DELETION_DIR, f"{_uuid.uuid4().hex}.json")
        # atomic PUT through the iolayer: tmp+rename locally,
        # object PUT on a URI root — executors need only reach the
        # same storage backend the driver commits to (the shared-
        # filesystem assumption is now the LOCAL backend's contract,
        # not the code's)
        iol.write_text(
            _os.path.join(root, rel),
            _json.dumps({"positions": sorted(new)}),
        )
        return _pd.DataFrame(
            {
                "__file": [fname],
                "rel": [rel],
                "n_total": [len(new)],
                "n_new": [n_new],
            }
        )

    meta = (
        hits.repartition("__file")
        .groupBy("__file")
        .applyInPandas(
            _write_group,
            "__file string, rel string, n_total long, n_new long",
        )
        .collect()
    )
    if not meta:
        return 0  # nothing matched: no-op, no new version
    by_file = {r["__file"]: r for r in meta}
    new_frags: list[lf.Fragment] = []
    for f in manifest.fragments:
        r = by_file.get(os.path.basename(f.file))
        if r is None:
            new_frags.append(f)
            continue
        # fully-deleted fragments STAY in the manifest (stream-source
        # prefix contract — see lance_format.delete_where)
        new_frags.append(
            lf.Fragment(
                -1,
                f.file,
                f.num_rows,
                f.stats,
                r["rel"],
                int(r["n_total"]),
                bloom_file=f.bloom_file,
            )
        )
    lf.commit(
        root,
        manifest.schema_json,
        new_frags,
        mode="overwrite",
        expected_version=manifest.version,
    )
    return sum(int(r["n_new"]) for r in meta)


def refuse_nondeterministic(
    df: DataFrame, what: str, why: str, *, sample: bool = False
) -> None:
    """Refuse ``df`` when two separate evaluations of its analyzed plan
    may select different rows. The DML lowerings evaluate one condition
    or source in SEPARATE queries (UPDATE: hit scan, then rewrite;
    MERGE: profile, stats pass, rewrite), so the plan must be
    ``deterministic()`` — Spark's analyzer decides that for every
    spelling (random, uniform, spark_partition_id, ...) — and must not
    read the clock: current_date, now and localtimestamp are fixed
    within one query but can move between two. ``sample`` also refuses
    TABLESAMPLE, which Spark counts as deterministic."""
    plan = df._jdf.queryExecution().analyzed()
    patterns = df.sparkSession._jvm.org.apache.spark.sql.catalyst.trees
    if not plan.deterministic():
        reason = "a nondeterministic function"
    elif plan.containsPattern(patterns.TreePattern.CURRENT_LIKE()):
        reason = "the current date or time"
    elif sample and _has_sample(plan):
        reason = "TABLESAMPLE"
    else:
        return
    raise lf.LanceDatasetError(
        f"{what} is nondeterministic (uses {reason}): {why}"
    )


def _has_sample(plan) -> bool:
    """Whether a JVM logical plan or one of its subqueries holds a
    ``Sample`` node."""
    stack = [plan]
    subs = plan.subqueriesAll()
    stack += [subs.apply(i) for i in range(subs.size())]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Sample":
            return True
        kids = node.children()
        stack += [kids.apply(i) for i in range(kids.size())]
    return False


def update_where_sql(
    spark: SparkSession,
    root: str,
    assignments: dict[str, str],
    predicate_sql: str,
) -> int:
    """SQL UPDATE lowered onto a fragment-pruned REWRITE: matching
    rows are found by Spark SQL (full expression power), only HIT
    fragments are rewritten — each row projected through
    ``CASE WHEN <pred> THEN <rhs> ELSE <old> END`` per assigned
    column, all right-hand sides evaluated against the OLD row
    (standard SQL UPDATE semantics) — and untouched fragments are
    carried by reference, zero IO. Deletion vectors on hit fragments
    are materialized by the rewrite (their rows were already
    invisible). NULL predicate keeps the row unchanged. Assigned
    columns must exist and the assignment must preserve the
    committed column type (refused loudly, never silently cast).
    Returns the number of updated rows."""
    from pyspark.sql import functions as F

    manifest = lf.read_manifest(root)
    # by-name fragment reads below (r13 guard: renamed
    # physical columns would silently null-fill)
    lf.require_physical_identity(manifest, "UPDATE")
    committed = _committed_schema(manifest)
    names = {f.name for f in committed.fields}
    unknown = sorted(set(assignments) - names)
    if unknown:
        raise lf.LanceDatasetError(
            f"UPDATE SET names unknown columns {unknown}; dataset "
            f"columns: {sorted(names)}"
        )
    if not manifest.fragments:
        return 0

    def _with_dels(df, fragments):
        return _anti_join_masks(spark, root, df, fragments)

    def _tagged(fragments):
        return (
            spark.read.schema(committed)
            .parquet(
                *[
                    iol.spark_read_path(os.path.join(root, f.file))
                    for f in fragments
                ]
            )
            .withColumn("__file", F.col("_metadata.file_name"))
            .withColumn("__pos", F.col("_metadata.row_index"))
        )

    # pass 1: which fragments hold matches, and how many rows
    matches = _with_dels(
        _tagged(manifest.fragments), manifest.fragments
    ).where(F.expr(predicate_sql))
    refuse_nondeterministic(
        matches,
        "UPDATE WHERE",
        "the predicate is evaluated twice (fragment scan, then "
        "rewrite) and must select the same rows both times — "
        "precompute the value and inline it as a literal",
    )
    hits = (
        matches.groupBy("__file")
        .count()
        .collect()
    )
    if not hits:
        return 0  # nothing matched: no-op, no new version
    hit_files = {r["__file"] for r in hits}
    n_updated = sum(int(r["count"]) for r in hits)
    affected = [
        f
        for f in manifest.fragments
        if os.path.basename(f.file) in hit_files
    ]
    carried = [
        f
        for f in manifest.fragments
        if os.path.basename(f.file) not in hit_files
    ]
    # pass 2: rewrite only the hit fragments, all RHS against OLD rows
    current = _with_dels(_tagged(affected), affected).drop(
        "__file", "__pos"
    )
    pred = F.expr(predicate_sql)
    proj = [
        F.when(pred, F.expr(assignments[c.name]))
        .otherwise(F.col(c.name))
        .alias(c.name)
        if c.name in assignments
        else F.col(c.name)
        for c in committed.fields
    ]
    rewritten = current.select(*proj)
    got = {f.name: f.dataType for f in rewritten.schema.fields}
    want = {f.name: f.dataType for f in committed.fields}
    retyped = sorted(n for n in want if got[n] != want[n])
    if retyped:
        raise lf.LanceDatasetError(
            f"UPDATE SET changes column types {retyped} "
            f"({ {n: f'{want[n]} -> {got[n]}' for n in retyped} }); "
            "cast the expression to the committed type explicitly"
        )
    _stage_and_commit(root, manifest, rewritten, carried)
    return n_updated


def _live_view(
    spark: SparkSession,
    root: str,
    committed,
    fragments,
    keep_pos: bool = False,
):
    """Live rows of ``fragments`` (deletion vectors applied) as a
    NATIVE parquet scan with the dataset's committed schema — never
    the Python datasource (Spark 4.1 plans a Python-DS relation once
    per relation instance; see catalog._run_merge). Caller guards
    against an empty fragment list. ``keep_pos=True`` retains the
    (__file, __pos) physical address of every live row — the
    deletion-vector lowering needs it."""
    from pyspark.sql import functions as F

    df = (
        spark.read.schema(committed)
        .parquet(
            *[
                iol.spark_read_path(os.path.join(root, f.file))
                for f in fragments
            ]
        )
        .withColumn("__file", F.col("_metadata.file_name"))
        .withColumn("__pos", F.col("_metadata.row_index"))
    )
    df = _anti_join_masks(spark, root, df, fragments)
    return df if keep_pos else df.drop("__file", "__pos")


def merge_apply(
    spark: SparkSession,
    root: str,
    src: DataFrame,
    key: str,
    matched_clauses: list,
    insert_clauses: list,
    sync_clauses: list,
) -> tuple[int, int, int]:
    """ANSI-semantics MERGE lowering, ONE commit per statement.

    ``src`` is the key-aligned source (parquet-spilled by the
    caller whenever its plan carries a Python-DS relation; stable
    native-view sources arrive unspilled — catalog._run_merge). ``matched_clauses`` is an ordered list of
    ``{"cond": sql|None, "action": "update"|"delete", "sets":
    {col: sql}|None}`` — conditions and SET right-hand sides are
    Spark SQL over ``__t_<col>`` (old target row) / ``__s_<col>``
    (source row) names; ``sets=None`` means ``UPDATE SET *``
    (full-row replace from source). ``insert_clauses`` is an ordered
    list of ``WHEN NOT MATCHED`` clauses ``{"cond": sql|None,
    "sets": {col: sql}|None}`` over the source's NATURAL column
    names — ``sets=None`` means ``INSERT *`` (source carries the
    full schema), a dict is the column-list ``INSERT (col, ...)
    VALUES (expr, ...)`` form (r11): unassigned columns null-fill
    with the committed type, first-match-wins picks ONE clause per
    unmatched source row. ``sync_clauses`` lists ``WHEN NOT MATCHED
    BY SOURCE`` clauses ``{"cond": sql|None, "action":
    "delete"|"update", "sets": {col: sql}|None}`` (conditions and
    SET right-hand sides over ``__t_<col>`` names only — no source
    row exists in that branch; r11 adds the UPDATE action).

    Per-row, first-match-wins clause resolution (standard MERGE):
    each live target row joins at most one source row (duplicate
    SOURCE keys that match the target raise the ANSI cardinality
    error — checked here), the first clause whose condition holds
    decides the row's fate, rows no clause touches survive
    unchanged. Fragment-pruned: only fragments whose key zone maps
    overlap rows that actually CHANGE are rewritten; the rest are
    carried by reference into the single new version. A MERGE that
    changes nothing commits nothing (no-op, no version).

    Returns ``(rows_updated, rows_inserted, rows_deleted)`` counting
    TARGET rows updated/deleted and SOURCE rows inserted. Reference
    parity: the MERGE verb of the reference's host engine (DuckDB),
    per-row semantics."""
    from pyspark.sql import functions as F

    register(spark)
    manifest = lf.read_manifest(root)
    # by-name fragment reads below (r13 guard: renamed
    # physical columns would silently null-fill)
    lf.require_physical_identity(manifest, "MERGE")
    committed = _committed_schema(manifest)
    names = [f.name for f in committed.fields]
    reserved = [
        c
        for c in set(names) | set(src.columns)
        if c.startswith(("__t_", "__s_")) or c in ("__act", "__file", "__pos")
    ]
    if reserved:
        raise lf.LanceDatasetError(
            f"MERGE cannot run over columns named {sorted(reserved)}; "
            "the __t_/__s_/__act prefixes are reserved by the merge "
            "join"
        )
    # ONE source-profile aggregation feeds three checks that each
    # used to be their own driver action (NULL-key refusal, key
    # bounds for fragment pruning, duplicate-key probe) — at small
    # statement sizes the per-action fixed cost dominated MERGE
    # wall-time (bench r10: 3 statements cost ~7 jobs each). r11:
    # only the terms a statement's clause mix actually consumes are
    # computed — countDistinct is a full shuffle and serves only the
    # matched-clause cardinality shortcut; bounds serve only matched
    # fragment pruning; the counts serve the insert NULL-key
    # refusal. A sync-only MERGE needs none and skips the job.
    terms = []
    if matched_clauses and not sync_clauses:
        terms += [f"min({key}) lo", f"max({key}) hi"]
    if insert_clauses:
        terms += ["count(*) n", f"count({key}) n_keyed"]
    if matched_clauses:
        terms += [f"count(distinct {key}) n_distinct"]
        if not insert_clauses:
            terms += [f"count({key}) n_keyed"]
    prof = (
        src.selectExpr(*terms).collect()[0].asDict() if terms else {}
    )
    prof = {
        "lo": None, "hi": None, "n": 0, "n_keyed": 0,
        "n_distinct": 0, **prof,
    }
    # NULL-key policy (the upsert contract): NULL never equals a
    # stored key, so a NULL-keyed source row can only ever INSERT —
    # which is almost always a data bug. Refused when an insert
    # clause exists; harmless (never matches) otherwise.
    if insert_clauses and prof["n_keyed"] < prof["n"]:
        raise lf.LanceDatasetError(
            f"MERGE source contains rows with NULL merge key "
            f"{key!r}; NULL never equals a stored key, so these "
            "rows cannot merge — filter them or choose a non-null "
            "key"
        )
    full_row = any(c["sets"] is None for c in insert_clauses) or any(
        c["action"] == "update" and c["sets"] is None
        for c in matched_clauses
    )
    if full_row:
        want = {f.name: f.dataType for f in committed.fields}
        got = {f.name: f.dataType for f in src.schema.fields}
        if want != got:
            missing = sorted(set(want) - set(got))
            extra = sorted(set(got) - set(want))
            retyped = sorted(
                n for n in set(want) & set(got) if want[n] != got[n]
            )
            raise lf.LanceDatasetError(
                "MERGE with UPDATE SET * / INSERT * needs the source "
                "to carry exactly the dataset's schema: "
                f"missing={missing} extra={extra} retyped={retyped}"
            )
    have_fragments = bool(manifest.fragments)
    # ANSI cardinality check: >1 source row matching one target row
    # is an error for MATCHED clauses (which source row would
    # apply?). Duplicate UNMATCHED source keys are legal — each
    # inserts. Cheap: a groupBy over the spilled source, semi-joined
    # against the live target keys.
    # the profile's distinct-vs-keyed comparison settles the common
    # no-duplicates case without touching the target; only a source
    # that REALLY carries duplicate keys pays the semi-join that
    # decides whether any duplicate key actually matches a live row
    if (
        matched_clauses
        and have_fragments
        and prof["n_distinct"] < prof["n_keyed"]
    ):
        dup_matched = (
            src.where(F.col(key).isNotNull())
            .groupBy(key)
            .count()
            .where(F.col("count") > 1)
            .join(
                _live_view(
                    spark, root, committed, manifest.fragments
                ).select(key),
                key,
                "left_semi",
            )
            .limit(1)
            .count()
        )
        if dup_matched:
            raise lf.LanceDatasetError(
                "MERGE source has multiple rows for the same matched "
                f"target key {key!r} (ANSI cardinality violation); "
                "deduplicate the source (e.g. keep-latest) first, or "
                "use the key-set-replace upsert API for multi-row "
                "replacement semantics"
            )

    # candidate fragments: BY SOURCE clauses can touch any row; plain
    # MATCHED clauses only rows within the source key bounds
    if sync_clauses and have_fragments:
        candidates, carried = list(manifest.fragments), []
    elif matched_clauses and have_fragments:
        candidates, carried = [], []
        for f in manifest.fragments:
            (candidates if _overlaps(f, key, prof["lo"], prof["hi"]) else carried).append(f)
    else:
        candidates, carried = [], list(manifest.fragments)

    n_upd = n_del = n_ins = 0
    update_idx = [
        i for i, c in enumerate(matched_clauses) if c["action"] == "update"
    ]
    base = len(matched_clauses)
    sync_update_idx = [
        base + j
        for j, c in enumerate(sync_clauses)
        if c["action"] == "update"
    ]
    keep_idx = update_idx + sync_update_idx
    changed_lo = changed_hi = None

    def _tagged(fragments, keep_pos: bool = False):
        view = _live_view(
            spark, root, committed, fragments, keep_pos=keep_pos
        )
        cols = [F.col(c).alias(f"__t_{c}") for c in names]
        if keep_pos:
            cols += [F.col("__file"), F.col("__pos")]
        t = view.select(cols)
        if matched_clauses:
            s = src.select(
                [F.col(c).alias(f"__s_{c}") for c in src.columns]
            )
        else:
            # only BY SOURCE clauses consult the join and they need
            # matched-ness alone — join DISTINCT keys, so a
            # duplicate-keyed source (legal here: the cardinality
            # check guards matched clauses only) can never fan a
            # matched target row out into duplicate survivors
            s = src.select(F.col(key).alias(f"__s_{key}")).distinct()
        joined = t.join(
            s, F.col(f"__t_{key}") == F.col(f"__s_{key}"), "left"
        )
        is_matched = F.col(f"__s_{key}").isNotNull()
        cases = []
        for i, c in enumerate(matched_clauses):
            cond = is_matched
            if c["cond"] is not None:
                cond = cond & F.expr(c["cond"])
            cases.append((cond, i))
        for j, c in enumerate(sync_clauses):
            cond = ~is_matched
            if c["cond"] is not None:
                cond = cond & F.expr(c["cond"])
            cases.append((cond, base + j))
        if cases:
            w = F.when(cases[0][0], F.lit(cases[0][1]))
            for cond, idx in cases[1:]:
                w = w.when(cond, F.lit(idx))
            act = w.otherwise(F.lit(None).cast("int"))
        else:
            act = F.lit(None).cast("int")
        return joined.withColumn("__act", act)

    if candidates and not insert_clauses and all(
        c["action"] == "delete" for c in matched_clauses
    ) and all(c["action"] == "delete" for c in sync_clauses):
        # deletion-vector lowering (r10): a MERGE whose every action
        # is DELETE (matched and/or by-source sync) never changes a
        # surviving byte — mask the hit positions with per-fragment
        # deletion files exactly like DELETE FROM, one commit,
        # O(matching rows) metadata instead of an O(fragment bytes)
        # rewrite. r11: the hit positions stay in the cluster — the
        # per-fragment side files are written executor-side and only
        # O(hit fragments) metadata reaches the driver
        # (_commit_deletion_hits), so driver memory is independent
        # of how many rows the statement deletes.
        hits = (
            _tagged(candidates, keep_pos=True)
            .where(F.col("__act").isNotNull())
            .select("__file", "__pos")
        )
        n = _commit_deletion_hits(spark, root, manifest, hits)
        return (0, 0, n)

    null_keyed_hit = False
    if candidates:
        # the stats pass below and the rewrite evaluate the WHEN
        # conditions in two separate queries
        classified = _tagged(candidates)
        refuse_nondeterministic(
            classified,
            "MERGE WHEN condition",
            "the stats pass and the rewrite evaluate it separately "
            "and must pick the same rows — precompute the value and "
            "inline it as a literal",
        )
        # one aggregation pass: per-action row counts + the key
        # bounds of rows that actually change (for write pruning).
        # NULL target keys need explicit tracking: a NULL-keyed
        # target row is always "not matched", so BY SOURCE clauses
        # hit it — but F.min/F.max skip NULLs AND fragment zone maps
        # skip NULLs, so bounds pruning would silently carry a
        # fragment whose only hits are NULL-keyed while still
        # counting its rows (r11 advice).
        stats = (
            classified.where(F.col("__act").isNotNull())
            .groupBy("__act")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min(f"__t_{key}").alias("lo"),
                F.max(f"__t_{key}").alias("hi"),
                F.count(F.col(f"__t_{key}")).alias("n_keyed"),
            )
            .collect()
        )
        for r in stats:
            act = (
                matched_clauses[r["__act"]]["action"]
                if r["__act"] < base
                else sync_clauses[r["__act"] - base]["action"]
            )
            if act == "update":
                n_upd += int(r["n"])
            else:
                n_del += int(r["n"])
            if int(r["n"]) > int(r["n_keyed"]):
                null_keyed_hit = True
            if r["lo"] is not None:
                changed_lo = (
                    r["lo"]
                    if changed_lo is None
                    else min(changed_lo, r["lo"])
                )
            if r["hi"] is not None:
                changed_hi = (
                    r["hi"]
                    if changed_hi is None
                    else max(changed_hi, r["hi"])
                )

    survivors = None
    if n_upd or n_del:
        # rewrite only fragments overlapping rows that change; a
        # NULL-keyed hit carries no bounds and no zone-map entry, so
        # its presence makes the bounds unbounded (every candidate
        # fragment may hold NULL-keyed hits)
        affected = (
            list(candidates)
            if null_keyed_hit
            else [
                f
                for f in candidates
                if _overlaps(f, key, changed_lo, changed_hi)
            ]
        )
        aff_files = {f.file for f in affected}
        carried = carried + [
            f for f in candidates if f.file not in aff_files
        ]
        tagged = _tagged(affected)
        keep = F.col("__act").isNull()
        if keep_idx:
            keep = keep | F.col("__act").isin(keep_idx)
        proj = []
        for fld in committed.fields:
            c = fld.name
            val = F.col(f"__t_{c}")
            for i in reversed(keep_idx):
                sets = (
                    matched_clauses[i]["sets"]
                    if i < base
                    else sync_clauses[i - base]["sets"]
                )
                if sets is None:
                    # UPDATE SET * — matched clauses only (a
                    # by-source SET * is refused at parse: no
                    # source row exists to replace from)
                    v = F.col(f"__s_{c}")
                elif c in sets:
                    v = F.expr(sets[c])
                else:
                    v = F.col(f"__t_{c}")
                val = F.when(F.col("__act") == i, v).otherwise(val)
            proj.append(val.alias(c))
        survivors = tagged.where(keep).select(*proj)
        got = {f.name: f.dataType for f in survivors.schema.fields}
        want = {f.name: f.dataType for f in committed.fields}
        retyped = sorted(n for n in want if got[n] != want[n])
        if retyped:
            raise lf.LanceDatasetError(
                f"MERGE UPDATE SET changes column types {retyped} "
                f"({ {n: f'{want[n]} -> {got[n]}' for n in retyped} }); "
                "cast the expression to the committed type explicitly"
            )
    else:
        carried = carried + candidates

    inserts = None
    if insert_clauses:
        unknown = sorted(
            {
                c
                for cl in insert_clauses
                if cl["sets"] is not None
                for c in cl["sets"]
            }
            - set(names)
        )
        if unknown:
            raise lf.LanceDatasetError(
                f"MERGE INSERT names unknown columns {unknown}; "
                f"dataset columns: {sorted(names)}"
            )
        ins = src
        if have_fragments:
            tgt_keys = (
                _live_view(spark, root, committed, manifest.fragments)
                .select(key)
                .distinct()
            )
            ins = ins.join(tgt_keys, key, "left_anti")
        # first-match-wins among the NOT MATCHED clauses: one action
        # index per unmatched source row, rows no clause accepts
        # insert nothing
        w = None
        for i, cl in enumerate(insert_clauses):
            cond = F.expr(cl["cond"]) if cl["cond"] else F.lit(True)
            w = F.when(cond, F.lit(i)) if w is None else w.when(cond, F.lit(i))
        ins = ins.withColumn(
            "__ins_act", w.otherwise(F.lit(None).cast("int"))
        ).where(F.col("__ins_act").isNotNull())
        proj = []
        for fld in committed.fields:
            c = fld.name
            val = F.lit(None).cast(fld.dataType)
            for i in reversed(range(len(insert_clauses))):
                sets = insert_clauses[i]["sets"]
                if sets is None:
                    v = F.col(c)  # INSERT * — full-row from source
                elif c in sets:
                    v = F.expr(sets[c])
                else:
                    v = F.lit(None).cast(fld.dataType)
                val = F.when(F.col("__ins_act") == i, v).otherwise(val)
            proj.append(val.alias(c))
        ins = ins.select(*proj)
        got = {f.name: f.dataType for f in ins.schema.fields}
        want = {f.name: f.dataType for f in committed.fields}
        retyped = sorted(n for n in want if got[n] != want[n])
        if retyped:
            raise lf.LanceDatasetError(
                f"MERGE INSERT VALUES changes column types {retyped} "
                f"({ {n: f'{want[n]} -> {got[n]}' for n in retyped} }); "
                "cast the expression to the committed type explicitly"
            )
        inserts = ins

    if inserts is None and n_upd == 0 and n_del == 0:
        return (0, 0, 0)  # true no-op: no rewrite, no version
    if survivors is not None and inserts is not None:
        merged = survivors.unionByName(inserts)
    elif survivors is not None:
        merged = survivors
    else:
        merged = inserts
    # the insert count falls out of the STAGED row count (r11 — one
    # job fewer per insert-bearing statement, and the anti-join no
    # longer executes twice): survivors are exactly the affected
    # fragments' live rows minus the deletes, both known from the
    # manifest + the stats pass, so n_ins = staged - survivors.
    survivors_rows = (
        sum(f.num_rows - f.num_deleted for f in affected) - n_del
        if survivors is not None
        else 0
    )
    frags, staged_total = _stage_fragments(root, merged)
    n_ins = staged_total - survivors_rows
    if n_upd == 0 and n_del == 0 and n_ins == 0:
        # true no-op discovered at stage time (an insert-only MERGE
        # whose every source row matched): zero fragments were
        # staged, nothing to clean, no version commits
        return (0, 0, 0)
    lf.commit(
        root,
        manifest.schema_json,
        carried + frags,
        mode="overwrite",
        expected_version=manifest.version,
    )
    return (n_upd, n_ins, n_del)


def _merge_commit(
    spark: SparkSession,
    root: str,
    manifest,
    committed,
    drop_keys: DataFrame,
    inserts: DataFrame | None,
    key: str,
) -> None:
    """Shared fragment-pruned rewrite: drop every stored row whose
    ``key`` is in ``drop_keys``, land every ``inserts`` row (None =
    pure delete), commit carried + rewritten fragments as ONE new
    version. upsert = drop(update keys) + insert(updates);
    delete_keys = drop(keys) + no inserts."""
    # count alongside min/max: an all-NULL-key batch has lo==hi==None
    # but n>0 and must NOT be silently dropped (mixed batches would
    # append their null-key rows; all-null batches previously
    # returned early — inconsistent). Merge-by-NULL-key is undefined,
    # so reject loudly (delete_keys pre-filters NULLs — SQL equality
    # semantics — so this refusal is the upsert contract).
    bounds = drop_keys.selectExpr(
        f"min({key}) lo", f"max({key}) hi", "count(*) n",
        f"count({key}) n_keyed",
    ).collect()[0]
    if bounds.n == 0:  # empty key set: nothing to do
        return
    if bounds.n_keyed < bounds.n:
        raise lf.LanceDatasetError(
            f"upsert updates contain {bounds.n - bounds.n_keyed} rows "
            f"with NULL merge key {key!r}; NULL never equals a stored "
            "key, so these rows cannot merge — filter them or choose "
            "a non-null key"
        )
    # NOTE on duplicate update keys (r8 review considered refusing
    # them): this upsert is a KEY-SET REPLACE — every stored row
    # whose key appears in updates is dropped and ALL update rows
    # land, so multiple update rows per key are well-defined (the
    # lance_upsert driver query replaces multi-row lineitem order
    # keys this way). Callers wanting one-row-per-key merge must
    # deduplicate (e.g. keep-latest) first.
    # single pass + file-name identity: `f not in affected` was
    # O(fragments x affected) deep dataclass comparisons including
    # per-column stats dicts (r8 review)
    affected, carried = [], []
    for f in manifest.fragments:
        (affected if _overlaps(f, key, bounds.lo, bounds.hi) else carried).append(f)

    # rewrite only the affected fragments: survivors ∪ updates go
    # through the lance writer into a staging dataset, then the
    # staged fragment files are adopted into this dataset's data/
    if affected:
        paths = [
            iol.spark_read_path(os.path.join(root, f.file))
            for f in affected
        ]
        # read with the dataset's COMMITTED schema, not one file's
        # inferred footer: after a mergeSchema append the affected
        # fragments are heterogeneous, and footer inference from the
        # oldest file would silently drop evolved columns from the
        # rewrite (data loss). Spark's parquet reader null-fills
        # columns absent from a given file when given an explicit
        # schema — the same semantics as the evolved scan path.
        current = spark.read.schema(committed).parquet(*paths)
        if any(f.deletion_file for f in affected):
            # apply deletion vectors distributedly: anti-join on
            # (file, physical row position); the mask frame is read
            # worker-side from the _deletions side files — no driver
            # data path (see _deletion_masks_df)
            from pyspark.sql import functions as F

            current = (
                current.withColumn("__file", F.col("_metadata.file_name"))
                .withColumn("__pos", F.col("_metadata.row_index"))
            )
            current = _anti_join_masks(
                spark, root, current, affected
            ).drop("__file", "__pos")
    else:
        current = None
    if current is None and inserts is None:
        return  # pure delete touching no fragment: a no-op, no version
    if current is not None:
        survivors = current.join(drop_keys, on=key, how="left_anti")
        merged = (
            survivors.unionByName(inserts)
            if inserts is not None
            else survivors
        )
    else:
        merged = inserts
    _stage_and_commit(root, manifest, merged, carried)


def _stage_and_commit(
    root: str, manifest, rewritten: DataFrame, carried
) -> int:
    """Write ``rewritten`` into a staging directory, adopt the
    staged fragment files into this dataset's data/, and commit
    carried + adopted as ONE new version. An empty ``rewritten``
    stages ZERO fragments and the commit publishes carried-only —
    no special case. Shared by the key-set merge
    (upsert/delete_keys), the predicate UPDATE rewrite, and MERGE.
    Returns the number of staged (rewritten + inserted) rows.

    r11: stages through Spark's NATIVE parquet writer (JVM,
    vectorized) instead of the Python-DS lance writer — at DML
    statement granularity the Arrow -> Python worker round trip per
    fragment was the dominant fixed cost of every MERGE/UPDATE/
    upsert (bench r10). Zone-map stats for the adopted fragments
    come from the staged files' parquet FOOTERS (metadata-only
    driver read, exact for the zone-mapped types —
    lance_format.footer_stats), so fragment pruning on later DML
    statements behaves exactly as before; empty part files are
    dropped (the zero-fragment contract above). Timestamps are
    pinned to TIMESTAMP_MICROS for the write so adopted files decode
    identically to lance-writer fragments."""
    frags, n_staged = _stage_fragments(root, rewritten)
    lf.commit(
        root,
        manifest.schema_json,
        carried + frags,
        mode="overwrite",
        expected_version=manifest.version,
    )
    return n_staged


def _stage_fragments(
    root: str, rewritten: DataFrame
) -> tuple[list, int]:
    """Stage ``rewritten`` as fragment files under the dataset's
    data/ (invisible until a manifest references them) and return
    ``(fragments, total_rows)`` — commit is the caller's move, so a
    discovered no-op can decline to publish a version. See
    ``_stage_and_commit`` for the native-writer rationale."""
    # Spark's native writer needs a JVM-writable location: next to
    # the dataset locally; a local temp dir when the root is an
    # object-store URI (the staged part files are then PUT into the
    # dataset prefix one by one — on a real cluster this stage would
    # target the store directly via its hadoop URI, but the adopt-
    # by-promote protocol is identical)
    if iol.is_uri(root):
        import tempfile

        staging = tempfile.mkdtemp(prefix="lance-dml-stage-")
    else:
        staging = f"{root}.upsert-{uuid.uuid4().hex}"
    sess = rewritten.sparkSession
    conf_key = "spark.sql.parquet.outputTimestampType"
    prev = sess.conf.get(conf_key, None)
    n_staged = 0
    new_frags: list[lf.Fragment] = []
    try:
        sess.conf.set(conf_key, "TIMESTAMP_MICROS")
        try:
            rewritten.write.mode("overwrite").parquet(staging)
        finally:
            if prev is None:
                sess.conf.unset(conf_key)
            else:
                sess.conf.set(conf_key, prev)
        iol.makedirs(os.path.join(root, lf.DATA_DIR))
        for fname in sorted(os.listdir(staging)):
            if not fname.endswith(".parquet"):
                continue
            fpath = os.path.join(staging, fname)
            num_rows, stats = lf.footer_stats(fpath)
            if num_rows == 0:
                continue
            rel = os.path.join(lf.DATA_DIR, f"{uuid.uuid4().hex}.parquet")
            iol.promote_local(fpath, os.path.join(root, rel))
            new_frags.append(lf.Fragment(-1, rel, num_rows, stats))
            n_staged += num_rows
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return new_frags, n_staged
