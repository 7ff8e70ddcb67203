"""Full-text search: Okapi BM25 over an inverted index.

Reference parity: Lance proper ships BM25 full-text search as a
first-class index type next to its vector indices (the reference
repo exposes Lance datasets to DuckDB; FTS is part of the same
dataset-capability family as the `_indices/` vector support —
rust/lib.rs dataset surface). Re-expressed Spark-first:

- ``fts_bm25`` — the whole query as one plan: tokenize → term
  frequencies → BM25 score → top-k. Shape (r14 second iteration +
  r15 advice fix): the only consumer of term-level tf is the
  QUERY-TERM slice (df + score components), so the one explode is
  filtered to the query terms below its aggregate and shuffles a
  sliver; that sliver (qtf) is spilled once and read by its two
  consumers — a dfreq aggregate broadcast-joined back (distributed;
  the r14 window-count form sorted each term's whole posting slice
  in ONE task, a per-term skew wall at scale) and the score join.
  Doc length (dl = Σ tf per doc = the token count) is a row-level
  array-size projection — no explode, no vocabulary-wide shuffle.
  Corpus statistics (N, avgdl) are one integer aggregate broadcast
  as a 1-row dimension. (The first r14 iteration staged a FULL-VOCAB
  tf spill; measured at sfd100 the vocab-wide shuffle+write was
  slower than the duplicate tokenizes it removed — the aggregate is
  avoidable, not shareable. The query-term spill is the sliver, not
  the vocabulary.)
- ``build_fts_index`` / ``search_bm25`` — the production shape: a
  PERSISTED inverted index as parquet partitioned by a term-hash
  bucket, with df and doc-length denormalized onto each posting row
  (the Lucene "norms in postings" layout — search is ONE pruned scan,
  zero joins). A query touches only the partitions its terms hash
  into: at 100 TB of postings and 64 buckets, a 3-term query reads
  ≤ 3/64 of the index, enforced by parquet partition pruning
  (asserted in tests/test_fts.py).

Float discipline (hash-exact vs the DuckDB oracle): the only
transcendental is ln() inside idf — Spark's Math.log and DuckDB's
libm may differ in the last ulp, so idf is ROUND()ed to 6 decimals
in both engines before use. Everything else is IEEE-deterministic
(integer + - , exact-constant multiplies, divisions); per-term score
components are rounded to 6 decimals and summed as DECIMAL(18,6)
(exact, associative — immune to sum order), then reduced to 4
decimals in the decimal domain (common.dsum2 discipline).
"""

from __future__ import annotations

import hashlib
import os
import shutil

from ..sources import iolayer as iol

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from ..tables import load

K1 = 1.2
B = 0.75
# derived once so tuning K1/B cannot desynchronize the formula; both
# identities are float-exact (asserted), so the Spark literals and
# the SQL oracle's interpolated repr()s are the same doubles
K1_PLUS_1 = K1 + 1.0
ONE_MINUS_B = 1.0 - B
assert repr(K1_PLUS_1) == "2.2" and repr(ONE_MINUS_B) == "0.25"
TOP_K = 20
QUERY_TERMS = ("spark", "scan", "merge")
N_BUCKETS = 64


def _tokens(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("term"),
    ).where(F.col("term") != "")


def _term_freq(docs: DataFrame) -> DataFrame:
    """(doc_id, term, tf) — one shuffle on (doc_id, term)."""
    return (
        _tokens(docs)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def _doc_len(tf: DataFrame) -> DataFrame:
    """(doc_id, dl) derived from tf (re-aggregates counts, cheaper
    than re-tokenizing)."""
    return tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))


def _corpus_stats(dl: DataFrame) -> DataFrame:
    """1-row (n_docs, avgdl); avgdl = exact-int sum / count, an
    IEEE-deterministic double division in both engines."""
    return dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )


def _score_expr() -> Column:
    """Per-(doc, term) BM25 component from columns
    tf, dl, df, n_docs, avgdl — shared verbatim by the direct and
    indexed paths so their floats are bit-identical."""
    idf = F.round(
        F.log(
            ((F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5))
            / (F.col("df").cast("double") + F.lit(0.5))
            + F.lit(1.0)
        ),
        6,
    )
    tfnorm = (F.col("tf") * F.lit(K1_PLUS_1)) / (
        F.col("tf")
        + F.lit(K1)
        * (F.lit(ONE_MINUS_B) + F.lit(B) * F.col("dl") / F.col("avgdl"))
    )
    return F.round(idf * tfnorm, 6).cast("decimal(18,6)")


def _topk(components: DataFrame, k: int = TOP_K) -> DataFrame:
    return (
        components.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.round(F.sum("comp"), 4).cast("double").alias("score"),
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(k)
    )


def fts_bm25(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOP_K,
    doc_filter: str | None = None,
) -> DataFrame:
    """BM25 top-k (default 20) for a fixed conjunctive-OR term query,
    computed directly from the corpus (the index-free baseline; the
    indexed path must reproduce it bit-for-bit). ``k`` exists so
    hybrid_search's lexical arm reuses THIS pipeline at its deeper
    RANK_CAP instead of duplicating it (r8 review finding).

    ``doc_filter`` (r13): a Spark-SQL predicate over the documents
    table with PRE-filter semantics — qualifying doc ids semi-join
    the per-doc scores BEFORE the top-k, so the k results are the
    best QUALIFYING documents. Corpus statistics (IDF, avgdl) stay
    GLOBAL — the production filtered-search contract (the filter
    restricts candidates, it does not re-weigh the corpus)."""
    docs = load(spark, sf_dir, "documents")
    # r14 optimization, second iteration. The full-vocabulary
    # (doc_id, term, tf) aggregate was only ever consumed for dl =
    # SUM(tf) per doc — and that is just the per-document token
    # count, computable as a row-level projection with NO explode and
    # NO shuffle. Only the query-term slice needs term-level tf, and
    # its `term IN (...)` filter sits below the aggregate, so the one
    # explode shuffles a 3-term sliver instead of the whole vocab.
    # (The first r14 iteration spilled the full-vocab tf to parquet
    # to deduplicate four tokenize subtrees; a same-container A/B at
    # sfd100 measured the full-vocab shuffle+spill SLOWER than the
    # shapes it replaced — the vocab-wide aggregate is avoidable
    # work, not shareable work.) dl values are identical exact longs
    # (token count == SUM(tf)); docs with zero tokens drop from dl
    # exactly as they were absent from tf; every downstream
    # expression is unchanged — scores and the indexed path's
    # bit-parity contract are preserved (oracle-EXACT re-verified).
    from ..materialize import spill_to_parquet

    # qtf spilled once (r15, ADVICE r14): its TWO consumers — the
    # dfreq aggregate and the score join — are distinct plan
    # subtrees that would each re-run the tokenize explode, and the
    # optimizer prunes their columns differently (df needs no tf),
    # so the exchanges would not canonicalize (the dedup_exact
    # lesson). The spill is O(query-term postings) of three narrow
    # columns, written distributed.
    qtf = spill_to_parquet(
        _tokens(docs)
        .where(F.col("term").isin(list(QUERY_TERMS)))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf")),
        "fts-qtf",
    )
    dl = (
        docs.select(
            "doc_id",
            F.size(
                F.filter(
                    F.split(F.lower(F.trim(F.col("text"))), " "),
                    lambda t: t != F.lit(""),
                )
            ).alias("dl"),
        )
        # empty/NULL-text docs have no tokens: absent from tf before,
        # dropped here (size() yields 0, or NULL/-1 on NULL text —
        # all fail `> 0`)
        .where(F.col("dl") > 0)
    )
    # dl feeds TWO branches (corpus stats + the score join) which
    # would each re-run the text-split scan; spill the narrow
    # (doc_id, dl) long pairs once — unlike the retired full-vocab tf
    # spill this is two longs per document, not the whole posting set
    dl = spill_to_parquet(dl, "fts-dl")
    stats = _corpus_stats(dl)
    # df restored to a dfreq aggregate + broadcast join-back (r15,
    # ADVICE r14): the r14 window COUNT over Window.partitionBy(term)
    # shuffled the whole query-term posting slice into at most
    # len(QUERY_TERMS) partitions and SORTED each term's slice in a
    # single task — a per-term skew/parallelism wall as the corpus
    # grows (§2.5). The aggregate keeps per-doc rows distributed
    # (map-side partial count, ≤|terms| rows per task reach the
    # wire) and the join-back broadcasts |terms| rows. qtf rows are
    # distinct (doc_id, term), so COUNT per term IS the document
    # frequency — the same exact long either way.
    dfreq = qtf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    comp = (
        qtf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", _score_expr().alias("comp"))
    )
    if doc_filter is not None:
        comp = comp.join(
            docs.where(doc_filter).select("doc_id"), "doc_id", "left_semi"
        )
    return _topk(comp, k)


# ------------------------------------------------------- persisted index


def _bucket_expr(term: Column) -> Column:
    """Term-hash bucket 0..N_BUCKETS-1 via an md5 prefix — chosen
    over xxhash64 because the same bucket must be computable
    driver-side (hashlib) to enumerate which partitions a query's
    terms land in."""
    return (
        F.conv(F.substring(F.md5(term), 1, 4), 16, 10).cast("int")
        % N_BUCKETS
    )


def bucket_of(term: str) -> int:
    return int(hashlib.md5(term.encode()).hexdigest()[:4], 16) % N_BUCKETS


def _spread(docs: DataFrame) -> DataFrame:
    """Fan a narrow committed-scan input out to the session's full
    parallelism before tokenization. A freshly committed dataset is
    often ONE small parquet file — the scan then yields a single
    input split and the explode/tokenize stage (the CPU-heavy half of
    index maintenance) serializes on one core (measured at sf1: the
    whole build waited behind it). At real scale the scan already
    yields >= cores splits and the guard makes this a no-op, keeping
    the extra full-text shuffle off the 100 TB path."""
    spark = docs.sparkSession
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        return docs.repartition(par)
    return docs


def _write_stats_dir(path: str, n_docs: int, sum_dl: int) -> None:
    """The 1-row (n_docs, sum_dl) stats generation, written directly
    with pyarrow — a whole Spark job (schedule, single task, commit
    protocol) for one row of two longs is pure fixed cost on every
    build/extend. spark.read.parquet() reads the dir identically."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    iol.write_parquet(
        pa.table(
            {
                "n_docs": pa.array([n_docs], pa.int64()),
                "sum_dl": pa.array([sum_dl], pa.int64()),
            }
        ),
        os.path.join(path, "part-00000.parquet"),
    )


def _read_stats_dir(path: str) -> dict:
    return iol.read_parquet(path).to_pylist()[0]


def _df_dirs_of(meta: dict) -> list[str]:
    """Live df generation dirs; tolerates the pre-r10 single
    ``df_dir`` key so an index built by an older session still
    searches."""
    if "df_dirs" in meta:
        return list(meta["df_dirs"])
    return [meta["df_dir"]] if "df_dir" in meta else []


def _read_fts_meta(index_dir: str) -> dict:
    import json

    return json.loads(
        iol.read_text(os.path.join(index_dir, "_meta.json"))
    )


def _publish_fts_meta(index_dir: str, meta: dict) -> None:
    """Atomic publish (iolayer.write_text — tmp+replace locally,
    object PUT on a URI store): a reader sees either
    the old meta or the new one, never a torn file — the same
    publish discipline as the vector index's CAS meta, minus the
    compare (FTS extends are driven by one maintenance job here;
    racing extenders would need the vector_index CAS pattern)."""
    import json

    iol.write_text(
        os.path.join(index_dir, "_meta.json"), json.dumps(meta)
    )


def _reclaim_fts_dirs(
    index_dir: str, meta: dict, prev: dict | None = None
) -> None:
    """Sweep index dirs referenced by NEITHER the just-published meta
    (live + its stale_dirs grace set) NOR the immediately-previous
    meta: crashed-staging orphans and generations two-plus behind.
    Readers hold at most the previous meta, whose dirs survive."""
    keep = set(meta.get("postings_dirs", [])) | set(_df_dirs_of(meta)) | {
        meta.get("stats_dir"),
        "_meta.json",
    } | set(meta.get("stale_dirs", []))
    if prev:
        keep |= (
            set(prev.get("postings_dirs", []))
            | set(_df_dirs_of(prev))
            | {prev.get("stats_dir")}
        )
    for entry in iol.listdir(index_dir):
        if entry not in keep and entry.startswith(
            ("postings", "_postings_d", "_df_v", "_stats_v")
        ):
            iol.rmtree(os.path.join(index_dir, entry))


def build_fts_index(
    spark: SparkSession, docs: DataFrame, index_dir: str
) -> None:
    """Build the inverted index:

    - ``postings/`` parquet partitioned by term bucket, one row per
      (term, doc): (bucket, term, doc_id, tf, dl). Every field is
      PER-DOC LOCAL (tf, dl never change when other docs arrive),
      which is what makes incremental maintenance exact — appending
      a doc appends posting rows and touches nothing else.
    - ``_df_v0_<hex>/`` parquet partitioned by the same bucket:
      (term, df). df is the one corpus-global term statistic, so it
      lives OUTSIDE the postings (the r7 layout change; denormalizing
      df onto postings — the Lucene norms-in-postings shortcut — made
      appends inexact, since every new doc shifts existing terms'
      idf). df generations are APPEND-ONLY deltas exactly like the
      posting dirs (``df_dirs`` in the meta): each holds the term
      counts of its own increment, and search sums df across
      generations for just the queried terms' buckets — integer
      addition, bit-identical to a merged dictionary. This keeps
      ``extend_fts_index`` strictly O(appended docs): the r9 layout
      merged old+delta df every extend, an O(term dictionary) job
      that dominated extend wall-time at sf1 and would re-shuffle a
      billion-term dictionary per micro-batch at 100 TB.
    - ``_stats_v0_<hex>/``: 1 row of exact integers (n_docs, sum_dl)
      so avgdl re-derives bit-identically at any version.
    - ``_meta.json``: which df/stats generation is current AND which
      posting directories are live (``postings_dirs``). ALL index
      state goes through the atomic meta publish, and EVERY dir name
      carries a unique suffix, so a rebuild never overwrites a dir an
      in-flight reader is scanning (r8 review: the in-place overwrite
      of postings/ plus immediate reclaim broke the reader-snapshot
      guarantee this docstring makes). The superseded life's dirs are
      recorded as ``stale_dirs`` and reclaimed one maintenance
      operation LATER — readers of the previous meta keep their files
      (the two-behind discipline extends already used for df/stats).

    Refuses an EMPTY corpus loudly: a partitioned write of an empty
    frame leaves no part files and every later search would crash on
    parquet schema inference (r8 review; same contract as
    build_scalar_index).

    Build cost is three shuffles over the corpus (tf, dl, df) — the
    one-time cost any inverted index pays; ``extend_fts_index`` then
    maintains it at O(appended docs)."""
    import uuid as _uuid

    # persist the tokenized term frequencies: the stats agg, the
    # postings write and the df write each consume tf — unpersisted,
    # the whole corpus re-tokenized three times (the same r8 review
    # finding extend_fts_index already fixed; measured r9 at sf1 the
    # build spent ~2/3 of its 17s re-tokenizing)
    tf = _term_freq(_spread(docs)).persist()
    try:
        dl = _doc_len(tf)
        n_docs, sum_dl = dl.agg(
            F.count(F.lit(1)), F.sum("dl").cast("long")
        ).first()
        if not n_docs:
            raise ValueError(
                "build_fts_index: corpus has no indexable documents "
                "(empty/NULL text everywhere) — an empty inverted index "
                "cannot be served; append data first"
            )
        suffix = _uuid.uuid4().hex[:8]
        pname = f"postings_{suffix}"
        df_name = f"_df_v0_{suffix}"
        stats_name = f"_stats_v0_{suffix}"
        dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        postings = tf.join(dl, "doc_id").withColumn(
            "bucket", _bucket_expr(F.col("term"))
        )
        # repartition ON the partition column before every
        # partitionBy write: without it each of the shuffle-partition
        # tasks opens a writer in every bucket dir — a tasks x
        # N_BUCKETS small-file storm (measured r9; at object-store
        # scale the file count alone is fatal). One task per bucket
        # writes one file per bucket. Pure layout: scores are
        # decimal-summed, so file order cannot move a hash.
        postings.repartition(N_BUCKETS, "bucket").write.mode(
            "overwrite"
        ).partitionBy("bucket").parquet(iol.spark_write_path(os.path.join(index_dir, pname)))
        dfreq.withColumn(
            "bucket", _bucket_expr(F.col("term"))
        ).repartition(N_BUCKETS, "bucket").write.mode(
            "overwrite"
        ).partitionBy("bucket").parquet(iol.spark_write_path(os.path.join(index_dir, df_name)))
        _write_stats_dir(
            os.path.join(index_dir, stats_name), int(n_docs), int(sum_dl)
        )
    finally:
        tf.unpersist()
    try:
        prev = _read_fts_meta(index_dir)
    except (OSError, ValueError):
        prev = None
    new_meta = {
        "version": 0,
        "df_dirs": [df_name],
        "stats_dir": stats_name,
        "postings_dirs": [pname],
        # the previous life's dirs survive THIS rebuild (in-flight
        # readers of the previous meta keep their files) and are
        # reclaimed by the NEXT maintenance operation
        "stale_dirs": (
            prev.get("postings_dirs", [])
            + _df_dirs_of(prev)
            + [prev["stats_dir"]]
            if prev
            else []
        ),
    }
    _publish_fts_meta(index_dir, new_meta)
    _reclaim_fts_dirs(index_dir, new_meta, prev)


def extend_fts_index(
    spark: SparkSession, index_dir: str, new_docs: DataFrame
) -> dict:
    """Incremental index maintenance at O(appended docs) — the FTS
    analogue of ``extend_ivf_index`` (Lance proper maintains its FTS
    index the same append-then-merge way):

    - the new docs' posting rows land in their OWN uniquely-named
      bucket-partitioned delta dir ``_postings_d{n+1}_<hex>`` (base
      and prior deltas untouched — tf/dl are per-doc local, so old
      postings stay exact). The delta becomes visible only via the
      meta publish below: a crash before the publish leaves an
      orphan no reader ever scans (reclaimed by a later
      maintenance sweep), and a RETRY stages its own fresh dir —
      no path by which an increment can be double-counted;
    - ``df`` lands as its own append-only delta generation
      ``_df_v{n+1}_<hex>`` holding term counts over just the new
      docs — never a merge with the existing dictionary (search sums
      df across generations for the queried terms; exact integer
      addition) — and the corpus stats add exact integer deltas;
    - postings_dirs + the new generations publish atomically via ONE
      ``_meta.json`` replace, so a concurrent reader scores a
      consistent snapshot (never new postings against an old df
      generation); the superseded stats generation is recorded in
      ``stale_dirs`` and reclaimed one maintenance operation LATER,
      so in-flight readers of the previous meta never lose their
      files mid-scan. Postings and df delta dirs accumulate until
      the next full ``build_fts_index`` (the compaction — it resets
      postings_dirs and df_dirs to one fresh base each).

    The increment's term-frequency frame is persisted for the three
    actions that consume it (emptiness check, postings write, df
    merge) — recomputable lineage, so an executor loss only
    recomputes, never corrupts (r8 review: the unpersisted form
    re-tokenized the increment three times).

    Search over the extended index is bit-identical to a full
    rebuild over the union corpus (asserted in tests and by the
    fts_bm25_incremental driver row, which shares the full-corpus
    oracle)."""
    import uuid as _uuid

    meta = _read_fts_meta(index_dir)
    version = meta["version"] + 1
    tf = _term_freq(_spread(new_docs)).persist()
    try:
        dl = _doc_len(tf)
        d_n, d_sum = dl.agg(
            F.count(F.lit(1)), F.sum("dl").cast("long")
        ).first()
        if not d_n:
            # empty increment: a no-op, NOT a new generation — an
            # empty delta dir would hold no part files and crash
            # every later search on parquet schema inference
            return meta
        suffix = _uuid.uuid4().hex[:8]
        postings_delta = f"_postings_d{version}_{suffix}"
        tf.join(dl, "doc_id").withColumn(
            "bucket", _bucket_expr(F.col("term"))
        ).repartition(N_BUCKETS, "bucket").write.mode(
            "overwrite"
        ).partitionBy("bucket").parquet(
            iol.spark_write_path(
                os.path.join(index_dir, postings_delta)
            )
        )
        # the df DELTA for just this increment — never a merge with
        # the existing dictionary (that merge is O(distinct corpus
        # terms) per extend; search sums df across generations for
        # the queried terms instead — exact integer addition)
        df_dir = f"_df_v{version}_{suffix}"
        (
            tf.groupBy("term")
            .agg(F.count(F.lit(1)).cast("long").alias("df"))
            .withColumn("bucket", _bucket_expr(F.col("term")))
            .repartition(N_BUCKETS, "bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(iol.spark_write_path(os.path.join(index_dir, df_dir)))
        )
    finally:
        tf.unpersist()
    old_stats = _read_stats_dir(os.path.join(index_dir, meta["stats_dir"]))
    stats_dir = f"_stats_v{version}_{suffix}"
    _write_stats_dir(
        os.path.join(index_dir, stats_dir),
        int(old_stats["n_docs"]) + int(d_n or 0),
        int(old_stats["sum_dl"]) + int(d_sum or 0),
    )
    new_meta = {
        "version": version,
        "df_dirs": _df_dirs_of(meta) + [df_dir],
        "stats_dir": stats_dir,
        "postings_dirs": meta.get("postings_dirs", ["postings"])
        + [postings_delta],
        # the superseded stats generation survives THIS extend
        # (readers of the previous meta) and is reclaimed next time;
        # df generations are append-only deltas and stay live
        "stale_dirs": [meta["stats_dir"]],
    }
    _publish_fts_meta(index_dir, new_meta)
    # reclaim what the PREVIOUS meta already marked stale, plus any
    # unreferenced staging orphans older than one maintenance op
    _reclaim_fts_dirs(index_dir, new_meta, meta)
    return new_meta


def search_bm25(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    k: int = TOP_K,
    exclude_doc_ids: DataFrame | None = None,
    include_doc_ids: DataFrame | None = None,
) -> DataFrame:
    """Query the persisted index: read ONLY the partitions the query
    terms hash into — parquet partition pruning on BOTH the postings
    scan and the (term, df) scan — then one broadcast of the few df
    rows the query terms own. No join touches the corpus. Query
    terms are normalized exactly like the indexed tokens (lowercase,
    space trim) — a raw-cased term would hash to a bucket holding no
    such posting and silently return nothing (r5 review finding).

    ``exclude_doc_ids`` (r14 deletion-aware serving): a (doc_id)
    frame of documents deleted since the index build — anti-joined
    BEFORE the top-k, so k results are all live. ``include_doc_ids``
    (r14): the pre-filter counterpart — qualifying ids semi-joined
    before the top-k (the fts_bm25.doc_filter contract for callers
    that evaluate the predicate themselves, e.g.
    ``search_bm25_dataset``'s WHERE). Statistics policy
    is the standard search-engine one (Lucene's deleted-docs
    contract): IDF / avgdl stay INDEX-TIME until a rebuild or
    incremental merge refreshes them; excluded docs vanish from
    results immediately, their statistical footprint decays at
    maintenance time. Exact-stat serving after heavy deletion =
    rebuild, same as every engine."""
    meta = _read_fts_meta(index_dir)
    terms = [t.strip(" ").lower() for t in terms]
    buckets = sorted({bucket_of(t) for t in terms})
    # every live posting dir comes from the meta snapshot (base +
    # extend deltas) — orphan deltas from a crashed extend are never
    # scanned. Each dir is its own bucket-partitioned root, read
    # separately and unioned (a multi-path read would demand one
    # shared basePath); the bucket/term filters push down THROUGH the
    # union into every scan, so pruning holds per dir.
    from functools import reduce

    posting_scans = [
        spark.read.parquet(iol.spark_read_path(os.path.join(index_dir, d)))
        for d in meta.get("postings_dirs", ["postings"])
    ]
    postings = (
        reduce(lambda a, b: a.unionByName(b), posting_scans)
        .where(F.col("bucket").isin(buckets))
        .where(F.col("term").isin(terms))
    )
    # df = sum over the append-only df generations — each scan prunes
    # to the queried terms' buckets, so the union touches a few rows
    # per generation regardless of dictionary size
    df_scans = [
        spark.read.parquet(iol.spark_read_path(os.path.join(index_dir, d)))
        for d in _df_dirs_of(meta)
    ]
    dfreq = (
        reduce(lambda a, b: a.unionByName(b), df_scans)
        .where(F.col("bucket").isin(buckets))
        .where(F.col("term").isin(terms))
        .groupBy("term")
        .agg(F.sum("df").cast("long").alias("df"))
    )
    stats = spark.read.parquet(
        iol.spark_read_path(
            os.path.join(index_dir, meta["stats_dir"])
        )
    ).select(
        "n_docs",
        (F.col("sum_dl").cast("double") / F.col("n_docs")).alias("avgdl"),
    )
    comp = (
        postings.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", _score_expr().alias("comp"))
    )
    if include_doc_ids is not None:
        # pre-filter semantics (the fts_bm25.doc_filter contract):
        # qualifying ids semi-join BEFORE the top-k, statistics stay
        # index-time global
        comp = comp.join(
            include_doc_ids.select("doc_id"), "doc_id", "left_semi"
        )
    if exclude_doc_ids is not None:
        comp = comp.join(
            exclude_doc_ids.select("doc_id"), "doc_id", "left_anti"
        )
    return _topk(comp, k)


def ensure_fts_index(
    spark: SparkSession, sf_dir: str, index_dir: str
) -> None:
    """Build-or-reuse policy SHARED by ``fts_bm25_indexed`` and
    ``hybrid_search_indexed`` (r10 advice: the two inline copies of
    this block would drift, and the count-only marker could serve a
    stale index for a DIFFERENT corpus of equal row count living at
    a same-basename path). The sidecar marker records the ABSOLUTE
    corpus path plus a cheap content fingerprint — row count, sum/max
    of ``doc_id`` and ``sum(xxhash64(text))``, one aggregation job —
    and the index meta must parse; any mismatch (moved corpus,
    different ids, changed text, corrupt index) rebuilds from
    scratch. Reuse is the point: an indexed-serving entry's
    comparable unit of work is the SEARCH, not the one-time build
    (r9 bench: rebuilding inside every timed run measured the load
    phase 77x over the oracle's raw scan)."""
    import json as _json

    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents")
    prof = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("s"),
        F.max("doc_id").alias("m"),
        # decimal: a bigint sum of hashes overflows under ANSI mode
        F.sum(F.xxhash64("text").cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    want = {
        "corpus_path": os.path.abspath(sf_dir),
        "n_docs_total": int(prof["n"]),
        "sum_doc_id": None if prof["s"] is None else int(prof["s"]),
        "max_doc_id": None if prof["m"] is None else int(prof["m"]),
        "sum_text_hash": None if prof["h"] is None else int(prof["h"]),
    }
    marker = os.path.join(index_dir, "_built_for.json")
    reuse = False
    try:
        reuse = _json.loads(iol.read_text(marker)) == want
        _read_fts_meta(index_dir)  # meta must exist and parse too
    except Exception:
        reuse = False
    if not reuse:
        iol.rmtree(index_dir)
        build_fts_index(spark, docs, index_dir)
        iol.write_text(marker, _json.dumps(want))


def fts_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-then-search the persisted index; bit-identical to
    ``fts_bm25`` (same oracle SQL hash-checks both). Build-or-reuse
    policy and its rationale: ``ensure_fts_index``."""
    tag = os.path.basename(sf_dir.rstrip("/"))
    index_dir = os.path.join("/tmp/lance_duckdb_spark", tag, "fts_index")
    ensure_fts_index(spark, sf_dir, index_dir)
    return search_bm25(spark, index_dir, list(QUERY_TERMS))


_TERMS_SQL = ", ".join(f"'{t}'" for t in QUERY_TERMS)

# Shared CTE body (toks → tf → dl → stats → qtf → dfreq → comp):
# FTS_BM25_SQL adds the n_terms column the operator surface returns;
# LANCE_SQL_FTS_SQL is the (doc_id, score) projection the match_bm25
# SQL sugar serves — same scores, same ordering, one definition.
_FTS_BM25_CTE = f"""
WITH toks AS (
  SELECT doc_id, t AS term FROM (
    SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS t
    FROM documents
  ) WHERE t <> ''
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
),
dl AS (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id
),
stats AS (
  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
  FROM dl
),
qtf AS (
  SELECT * FROM tf WHERE term IN ({_TERMS_SQL})
),
dfreq AS (
  SELECT term, COUNT(*) AS df FROM qtf GROUP BY term
),
comp AS (
  SELECT qtf.doc_id,
    CAST(ROUND(
      ROUND(LN((CAST(stats.n_docs - dfreq.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
               / (CAST(dfreq.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
               + CAST(1.0 AS DOUBLE)), 6)
      * ((qtf.tf * CAST({K1_PLUS_1} AS DOUBLE))
         / (qtf.tf + CAST({K1} AS DOUBLE)
            * (CAST({ONE_MINUS_B} AS DOUBLE)
               + CAST({B} AS DOUBLE) * dl.dl / stats.avgdl))),
    6) AS DECIMAL(18,6)) AS comp
  FROM qtf
  JOIN dl ON dl.doc_id = qtf.doc_id
  JOIN dfreq ON dfreq.term = qtf.term
  CROSS JOIN stats
)
"""

FTS_BM25_SQL = _FTS_BM25_CTE + f"""
SELECT doc_id, COUNT(*) AS n_terms,
       CAST(ROUND(SUM(comp), 4) AS DOUBLE) AS score
FROM comp GROUP BY doc_id
ORDER BY score DESC, doc_id
LIMIT {TOP_K}
"""

LANCE_SQL_FTS_SQL = _FTS_BM25_CTE + f"""
SELECT doc_id, CAST(ROUND(SUM(comp), 4) AS DOUBLE) AS score
FROM comp GROUP BY doc_id
ORDER BY score DESC, doc_id
LIMIT {TOP_K}
"""


def fts_bm25_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C50: build the index on the BULK (first 2/3 of doc_ids), feed
    the remaining third through TWO ``extend_fts_index`` passes (so
    the generation rotation and the stale-dir reclaim really
    exercise), then search — must be bit-identical to a full-corpus
    build, so it shares fts_bm25's full-corpus oracle. The equality
    is the point: df/stats merge + per-doc-local postings reconstruct
    the exact full index at O(appended docs) maintenance cost."""
    tag = os.path.basename(sf_dir.rstrip("/"))
    index_dir = os.path.join(
        "/tmp/lance_duckdb_spark", tag, "fts_index_incr"
    )
    shutil.rmtree(index_dir, ignore_errors=True)
    docs = load(spark, sf_dir, "documents")
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    if lo is None:
        return local_frame(
            spark, [], "doc_id long, n_terms long, score double"
        )
    from .common import bulk_two_sixths_cuts

    cuts = bulk_two_sixths_cuts(lo, hi)
    build_fts_index(
        spark, docs.where(F.col("doc_id") < cuts[1]), index_dir
    )
    for i in (1, 2):
        extend_fts_index(
            spark,
            index_dir,
            docs.where(
                (F.col("doc_id") >= cuts[i]) & (F.col("doc_id") < cuts[i + 1])
            ),
        )
    return search_bm25(spark, index_dir, list(QUERY_TERMS))


# --------------------------------------- dataset-attached FTS (r14)
#
# The index variants above take a documents DataFrame and live at an
# arbitrary index_dir — the caller owns corpus identity. A
# DATASET-ATTACHED index lives under the lance root itself
# (`_indexes/fts`, the vector-index layout) and pins the dataset
# version it indexed, which buys the version-aware serving ladder:
# deletion-vector DELETEs serve live (deleted docs masked out of the
# top-k) instead of serving ghosts or refusing, appends refuse
# toward an extend, rewrites toward a rebuild — vector_index's
# _staleness_gate applied to text retrieval, and the machinery
# behind lance_sql's match_bm25 sugar (catalog._run_fts).

FTS_DATASET_DIR = "_indexes/fts"


def build_fts_index_for_dataset(
    spark: SparkSession,
    root: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """Index the LIVE rows of the lance dataset at its current
    version into ``<root>/_indexes/fts``; the version pin + column
    names ride in the index meta. Doc ids are the dataset's
    ``id_col`` values (cast long), so the serving ladder's deletion
    masks translate directly."""
    from ..sources import lance_format as lf
    from ..sources.datasource import register

    register(spark)
    man = lf.read_manifest(root)
    docs = (
        spark.read.format("lance")
        .option("version", str(man.version))
        .option("columns", f"{id_col},{text_col}")
        .load(root)
        .select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.col(text_col).alias("text"),
        )
    )
    idx = os.path.join(root, FTS_DATASET_DIR)
    build_fts_index(spark, docs, idx)
    meta = _read_fts_meta(idx)
    meta.update(
        {
            "dataset_version": man.version,
            "id_col": id_col,
            "text_col": text_col,
        }
    )
    _publish_fts_meta(idx, meta)
    return idx


def extend_fts_index_for_dataset(spark: SparkSession, root: str) -> dict:
    """O(appended docs) maintenance for the dataset-attached index —
    the FTS twin of ``extend_ivf_index``'s r14 contract: fragments
    appended since the indexed version are tokenized into a postings
    delta (``extend_fts_index``'s append-only generations), the meta
    re-pins to the head, and DELETION-ONLY history is tolerated (the
    serving gate masks current deletion state; see
    ``vector_index._require_extendable``). Rewrites refuse toward a
    rebuild. The appended fragments are read with their own current
    masks applied, so already-deleted rows never enter the delta."""
    from ..sources import lance_format as lf
    from ..sources.datasource import register
    from ..sources.vector_index import _require_extendable

    register(spark)
    idx = os.path.join(root, FTS_DATASET_DIR)
    meta = _read_fts_meta(idx)
    if "dataset_version" not in meta:
        raise lf.LanceDatasetError(
            f"the FTS index at {idx!r} is not dataset-attached — "
            "build it with build_fts_index_for_dataset"
        )
    head = lf.read_manifest(root)
    if head.version == meta["dataset_version"]:
        return meta
    base = lf.read_manifest(root, meta["dataset_version"])
    new_fragments, had_deletions = _require_extendable(
        base, head, "build_fts_index_for_dataset"
    )
    live_mask = bool(meta.get("serve_live_mask")) or had_deletions
    id_col, text_col = meta["id_col"], meta["text_col"]
    if new_fragments:
        new_docs = (
            spark.read.format("lance")
            .option("version", str(head.version))
            .option(
                "fragment_files",
                ",".join(f.file for f in new_fragments),
            )
            .load(root)
            .select(
                F.col(id_col).cast("long").alias("doc_id"),
                F.col(text_col).alias("text"),
            )
        )
        extend_fts_index(spark, idx, new_docs)
        # re-read: the extend published new generation dirs; restore
        # the dataset-attachment keys explicitly in case the extend's
        # meta rewrite did not carry them through
        meta = _read_fts_meta(idx)
    else:
        meta = dict(meta)
    meta["dataset_version"] = head.version
    meta["id_col"], meta["text_col"] = id_col, text_col
    if live_mask:
        meta["serve_live_mask"] = True
    _publish_fts_meta(idx, meta)
    return meta


def search_bm25_dataset(
    spark: SparkSession,
    root: str,
    terms: list[str],
    k: int = TOP_K,
    allow_stale: bool = False,
    filter: str | None = None,
) -> DataFrame:
    """Deletion-aware BM25 over a dataset-attached index — the
    vector-index serving ladder (vector_index._staleness_gate)
    applied to text retrieval: head == indexed or metadata-only
    serves as-is; deletion-only divergence serves the LIVE corpus
    (newly-masked doc ids anti-joined before the top-k; IDF/avgdl
    stay index-time per the Lucene deleted-docs contract); appends
    refuse toward ``extend_fts_index_for_dataset`` (which also
    tolerates deletion-only history — the full delete→append→extend
    loop needs no rebuild); rewrites refuse toward a rebuild;
    ``allow_stale=True`` serves the indexed snapshot.

    ``filter`` (pre-filter semantics): a Spark SQL predicate over
    the dataset's columns, evaluated on the dataset PINNED at the
    indexed version (the _filter_ids discipline) and semi-joined
    before the top-k — the best k QUALIFYING live documents."""
    from ..sources import lance_format as lf
    from ..sources.datasource import register
    from ..sources.vector_index import _staleness_gate

    register(spark)
    idx = os.path.join(root, FTS_DATASET_DIR)
    meta = _read_fts_meta(idx)
    if "dataset_version" not in meta:
        raise lf.LanceDatasetError(
            f"the FTS index at {idx!r} is not dataset-attached (no "
            "version pin) — build it with build_fts_index_for_dataset"
        )
    gate_meta = {
        "dataset_version": meta["dataset_version"],
        "id_col": meta["id_col"],
        # carried through a deletion-tolerant extend: keeps the gate
        # masking current deletion state even at head == pin
        "serve_live_mask": meta.get("serve_live_mask", False),
    }
    excl = _staleness_gate(spark, root, gate_meta, allow_stale, "FTS")
    exclude = (
        None
        if excl is None
        else excl.select(F.col(meta["id_col"]).alias("doc_id"))
    )
    include = None
    if filter is not None:
        include = (
            spark.read.format("lance")
            .option("version", str(meta["dataset_version"]))
            .load(root)
            .where(filter)
            .select(
                F.col(meta["id_col"]).cast("long").alias("doc_id")
            )
        )
    return search_bm25(
        spark,
        idx,
        terms,
        k=k,
        exclude_doc_ids=exclude,
        include_doc_ids=include,
    )


def _fts_dataset_root(sf_dir: str) -> str:
    tag = os.path.basename(sf_dir.rstrip("/"))
    return os.path.join("/tmp/lance_duckdb_spark", tag, "ftsdocs.lance")


def _staged_fts_dataset(spark: SparkSession, sf_dir: str) -> str:
    """Stage documents as a lance dataset with a DATASET-ATTACHED
    inverted index (build_fts_index_for_dataset), reused when
    current — the ensure_fts_index build-or-reuse policy applied to
    the dataset+index pair: the sidecar marker records the absolute
    corpus path plus a content fingerprint (row count, sum/max of
    doc_id, sum of the texts' xxhash64, so changed text under the same
    ids rebuilds), and the index meta must parse and still pin the staged
    dataset's head version; any mismatch rebuilds both. Only
    (doc_id, text) are written — all the match_bm25 serving path
    reads."""
    import json as _json

    from ..sources import lance_format as lf
    from ..sources.datasource import register

    register(spark)
    root = _fts_dataset_root(sf_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    prof = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("s"),
        F.max("doc_id").alias("m"),
        # decimal: a bigint sum of hashes overflows under ANSI mode
        F.sum(F.xxhash64("text").cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    want = {
        "corpus_path": os.path.abspath(sf_dir),
        "n_docs_total": int(prof["n"]),
        "sum_doc_id": None if prof["s"] is None else int(prof["s"]),
        "max_doc_id": None if prof["m"] is None else int(prof["m"]),
        "sum_text_hash": None if prof["h"] is None else int(prof["h"]),
    }
    marker = os.path.join(root, FTS_DATASET_DIR, "_built_for.json")
    reuse = False
    try:
        reuse = _json.loads(iol.read_text(marker)) == want
        meta = _read_fts_meta(os.path.join(root, FTS_DATASET_DIR))
        reuse = reuse and (
            meta.get("dataset_version") == lf.read_manifest(root).version
        )
    except Exception:
        reuse = False
    if not reuse:
        iol.rmtree(root)
        docs.write.format("lance").mode("overwrite").save(root)
        build_fts_index_for_dataset(
            spark, root, text_col="text", id_col="doc_id"
        )
        iol.write_text(marker, _json.dumps(want))
    return root


def lance_sql_fts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query (r15; A22's owed debut — the r14 window was at
    its 53-for-50 capacity): the ``match_bm25`` SQL spelling DuckDB's
    FTS extension gives its users, recognized by ``lance_sql``
    (catalog._run_fts) and served from the dataset-attached inverted
    index — partition-pruned posting scan, version-pinned staleness
    ladder, never a brute-force text scan. Scores are bit-identical
    to ``fts_bm25`` (index-time IDF/avgdl over the full corpus ==
    the direct computation); the sugar projects (doc_id, score) —
    LANCE_SQL_FTS_SQL is the same oracle minus n_terms. Refusal
    matrix and ladder behavior are pytest-asserted
    (tests/test_fts_dataset.py)."""
    from ..catalog import lance_sql
    from ..sources import lance_format as lf

    # the terms and the root are spliced into the statement as SQL
    # string literals, unescaped: a quote would end the literal early
    root = _fts_dataset_root(sf_dir)
    quoted = [s for s in (*QUERY_TERMS, root) if "'" in s]
    if quoted:
        raise lf.LanceDatasetError(
            f"lance_sql_fts: {quoted!r} contains a single quote, which "
            "the match_bm25 statement cannot carry in a string literal"
        )
    _staged_fts_dataset(spark, sf_dir)
    terms = " ".join(QUERY_TERMS)
    stmt = (
        f"SELECT doc_id, match_bm25(text, '{terms}') AS score "
        f"FROM '{root}' ORDER BY score DESC LIMIT {TOP_K}"
    )
    return lance_sql(spark, stmt)


QUERIES = {
    "fts_bm25": fts_bm25,
    "fts_bm25_indexed": fts_bm25_indexed,
    "fts_bm25_incremental": fts_bm25_incremental,
    "lance_sql_fts": lance_sql_fts,
}

ORACLE = {
    "fts_bm25": FTS_BM25_SQL,
    "fts_bm25_indexed": FTS_BM25_SQL,
    "fts_bm25_incremental": FTS_BM25_SQL,
    "lance_sql_fts": LANCE_SQL_FTS_SQL,
}
