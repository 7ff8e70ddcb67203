"""Focused tests for the r14 optimization-pass internals: each change
rearranged HOW an operator computes (pass/scan count, codegen shape)
with a proof obligation that WHAT it computes is unchanged. These pin
the equivalences the round doc claims (OPTIMIZATION_r14.md)."""

from __future__ import annotations

from pyspark.sql import functions as F

from lance_duckdb_spark.materialize import spill_to_parquet
from lance_duckdb_spark.operators import dedup, timeseries as ts
from lance_duckdb_spark.operators.common import spread
from lance_duckdb_spark.operators.curation import BENCH_MOD, CONTAM_N, _word_ngrams
from lance_duckdb_spark.tables import load


# --- common.spread: guarded round-robin fan-out (r14 review fix) ----


def test_spread_fans_out_underpartitioned(spark):
    """A single-split scan (the driver-testdata shape) must fan out to
    max(min_parts, defaultParallelism) so the Python pass behind it
    uses every core."""
    df = spark.range(0, 1000, 1, 1)
    assert df.rdd.getNumPartitions() == 1
    par = spark.sparkContext.defaultParallelism
    out = spread(df)
    assert out.rdd.getNumPartitions() == max(32, par)


def test_spread_noop_when_well_partitioned(spark):
    """At or above the target the input comes back untouched — no
    shuffle is injected on a corpus already laid out across cores
    (the 'one scan, no shuffle' ledger)."""
    par = spark.sparkContext.defaultParallelism
    target = max(32, par)
    df = spark.range(0, 1000, 1, target)
    out = spread(df)
    assert out is df  # identity, not just same partition count


def test_spread_respects_session_parallelism_band(spark):
    """The r14 review case: 32 <= splits < defaultParallelism must
    still repartition (the old fixed-32 guard no-opped here). Only
    meaningful when the session has >32 cores; with <=32 cores the
    32-split frame is already at target and must be left alone."""
    par = spark.sparkContext.defaultParallelism
    df = spark.range(0, 1000, 1, 32)
    out = spread(df)
    if par > 32:
        assert out.rdd.getNumPartitions() == par
    else:
        assert out is df


# --- dedup_incremental: one shingle pass feeds all three consumers --


def test_verify_candidate_pairs_shared_shingle_identical(spark, sf_dir):
    """verify_candidate_pairs(cand, docs, shingled=spilled) must be
    row-identical (incl. the float jaccard) to the self-shingling
    path — the r14 change threads dedup_incremental's one spilled
    shingle frame through instead of re-shingling the corpus."""
    docs = load(spark, sf_dir, "documents")
    ids = [r.doc_id for r in docs.select("doc_id").orderBy("doc_id").limit(6).collect()]
    pairs = [(ids[i], ids[j]) for i in range(len(ids)) for j in range(i + 1, len(ids))]
    cand = spark.createDataFrame(pairs, "doc_a long, doc_b long")

    base = dedup.verify_candidate_pairs(cand, docs).collect()
    shingled = spill_to_parquet(dedup._shingle_df(docs), "r14-test-shingles")
    shared = dedup.verify_candidate_pairs(cand, docs, shingled=shingled).collect()
    assert [r.asDict() for r in base] == [r.asDict() for r in shared]


# --- continuous_aggregate: one MAX(hour) collect threads through ----


def test_rollup_max_h_threading_identical(spark, sf_dir, tmp_path):
    """build_rollup_store/rollup_query with the caller-supplied max_h
    must serve byte-identical rows to the standalone (max_h=None)
    contract — continuous_aggregate computes MAX(hour_idx) once and
    passes it to both."""
    hours = ts._hourly(spark, sf_dir)
    max_h = ts._max_hour(hours).first()["max_h"]

    d_none = str(tmp_path / "rollup_none")
    d_thread = str(tmp_path / "rollup_thread")
    ts.build_rollup_store(spark, sf_dir, d_none)
    ts.build_rollup_store(spark, sf_dir, d_thread, max_h=max_h)

    served_none = ts.rollup_query(spark, sf_dir, d_none).collect()
    served_thread = ts.rollup_query(spark, sf_dir, d_thread, max_h=max_h).collect()
    assert [r.asDict() for r in served_none] == [r.asDict() for r in served_thread]


# --- contamination_check: shingle only the bench slice --------------


def test_gram_rows_slice_equivalence(spark, sf_dir):
    """Shingling the doc_id % BENCH_MOD == 0 slice must emit exactly
    the rows a post-shingle filter of the full corpus emits (grams
    depend on text alone) — the r14 change runs the filter BELOW the
    opaque mapInPandas instead of discarding 16/17 of its output."""
    docs = load(spark, sf_dir, "documents")
    gram = _word_ngrams(CONTAM_N)

    full_then_filter = (
        dedup._gram_rows(docs, [], gram, "gram")
        .where(F.col("doc_id") % BENCH_MOD == 0)
        .collect()
    )
    filter_then_gram = dedup._gram_rows(
        docs.where(F.col("doc_id") % BENCH_MOD == 0), [], gram, "gram"
    ).collect()
    key = lambda r: (r.doc_id, r.gram)  # noqa: E731
    assert sorted(full_then_filter, key=key) == sorted(filter_then_gram, key=key)


# --- ann_ivf_after_delete: serve subtree executes once -------------


def test_after_delete_serve_subtree_not_duplicated(spark, sf_dir):
    """The served-id frame feeds both the zero-deleted audit and the
    recall hit join; before the r14 pass-2 fix the final plan held
    the whole serve path (postings scan, probe join, top-k window)
    TWICE. With the narrow id spill the returned plan must not
    re-execute the serve subtree at all — no postings scan, and the
    flag row still audits correctly."""
    from lance_duckdb_spark.operators.similarity import ann_ivf_after_delete

    df = ann_ivf_after_delete(spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "postings" not in plan
    rows = df.collect()
    assert rows and all(r.after_delete_ok for r in rows)


# --- fts_bm25: no vocabulary-wide aggregate, no spill ---------------


def test_fts_bm25_no_fullvocab_aggregate(spark, sf_dir):
    """r14 second iteration + r15 advice fix: term-level tf is only
    needed for the QUERY-TERM slice (spilled once as fts-qtf; its
    dfreq aggregate and the score join read the spill), and dl is a
    row-level token count (spilled once as fts-dl). The RETURNED
    plan must therefore hold NO explode, NO documents scan, NO
    full-vocab tf spill, and no per-term window (the r14 window-df
    sorted each term's posting slice in one task — the restored
    dfreq aggregate + broadcast join-back keeps rows distributed)."""
    from lance_duckdb_spark.operators.fts import fts_bm25

    df = fts_bm25(spark, sf_dir)
    rows = df.collect()
    assert len(rows) > 0
    final = (
        df._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert "fts-tf" not in final  # no full-vocab spill staging
    assert final.count("Generate") == 0  # tokenize runs at spill time
    assert final.count("documents.parquet") == 0
    assert "fts-dl" in final and "fts-qtf" in final
    assert "Window" not in final  # no single-task-per-term sort


def test_fts_qtf_filter_below_aggregate(spark, sf_dir):
    """The spill-time qtf subtree must filter the explode output to
    the query terms BELOW its (doc_id, term) aggregate — the
    full-vocab shuffle is gone. Tightened per r14 ADVICE: assert the
    node ORDER (Aggregate above Filter above Generate in the printed
    tree, i.e. filter applied first) and exactly one documents scan,
    not just that an IN appears somewhere."""
    from lance_duckdb_spark.operators.fts import QUERY_TERMS, _tokens
    from lance_duckdb_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    qtf = (
        _tokens(docs)
        .where(F.col("term").isin(list(QUERY_TERMS)))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    qtf.collect()
    final = (
        qtf._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert final.count("documents.parquet") == 1
    i_agg = final.find("HashAggregate")
    i_flt = max(final.find("INSET"), final.find("IN ("))
    i_gen = final.find("Generate")
    assert i_agg != -1 and i_flt != -1 and i_gen != -1
    # top-down tree print: parent first — aggregate above the term
    # filter, filter above the explode it consumes
    assert i_agg < i_flt < i_gen


# --- dedup_exact: fingerprint the text once ------------------------


def test_dedup_exact_fingerprints_once(spark, sf_dir):
    """The cluster aggregate joined back onto `hashed` built two
    subtrees whose exchanges differ by projection, so ReuseExchange
    could not canonicalize them — before the r14 pass-2 fix the
    executed plan ran the text scan + md5 twice. With the per-h
    window aggregates the final plan must hold exactly ONE documents
    scan and no join."""
    from lance_duckdb_spark.operators.dedup import dedup_exact

    df = dedup_exact(spark, sf_dir)
    df.collect()
    final = (
        df._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert final.count("documents.parquet") == 1
    assert "Join" not in final


# --- domain_mix / temperature_resample: min_n via global window ----


def _final_plan(df):
    df.collect()
    ex = df._jdf.queryExecution().executedPlan().toString()
    # AQE prints "== Final Plan ==" then "== Initial Plan ==" — keep
    # only the part that actually executed
    return ex.split("== Initial Plan ==")[0]


def test_domain_mix_single_per_lang_scan(spark, sf_dir):
    """min_n used to be a separate aggregate crossJoined back; the
    join branch's pushed IsNotNull(lang) broke exchange
    canonicalization, so the per-lang count scan executed twice
    (neither ReuseExchange nor AQE stage reuse fired). With the
    global-window MIN the executed plan must hold exactly two
    documents scans: the kept-join corpus side + ONE lang
    aggregate."""
    from lance_duckdb_spark.operators.curation import (
        domain_mix,
        temperature_resample,
    )

    for fn in (domain_mix, temperature_resample):
        plan = _final_plan(fn(spark, sf_dir))
        assert plan.count("documents.parquet") == 2, fn.__name__
        assert "BroadcastNestedLoopJoin" not in plan, fn.__name__


def test_window_min_matches_crossjoin_min(spark):
    """The window formulation must attach the identical min to every
    per-group row (incl. a NULL group, which the oracle's scalar
    subquery also counts)."""
    from pyspark.sql import Window

    rows = [("en",), ("en",), ("de",), (None,), (None,), (None,)]
    docs = spark.createDataFrame(rows, "lang string")
    per_lang = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    via_window = per_lang.withColumn(
        "min_n", F.min("n_lang").over(Window.partitionBy())
    )
    via_join = per_lang.crossJoin(
        F.broadcast(per_lang.agg(F.min("n_lang").alias("min_n")))
    )
    a = sorted(via_window.collect(), key=repr)  # NULL lang unorderable
    b = sorted(via_join.collect(), key=repr)
    assert a == b


# --- cohort_retention: one events scan via per-user window MIN ------


def test_cohort_retention_single_events_scan(spark, sf_dir):
    """The groupBy(min)+join-back shape let the optimizer collapse
    the two branches into DIFFERENT aggregates over separate scans
    (distinct(user,day) vs min-per-user straight off the scan), so
    events was read twice. The window formulation must execute
    exactly one events scan."""
    from lance_duckdb_spark.operators.behavior import cohort_retention

    plan = _final_plan(cohort_retention(spark, sf_dir))
    assert plan.count("events.parquet") == 1


# --- leakage_safe_split: one fingerprint scan via the per spill ----


def test_leakage_safe_split_single_fingerprint_scan(spark, sf_dir):
    """The leak-audit branch prunes columns out of the (fp, source,
    split) aggregate, de-canonicalizing the exchange — the full
    text+md5 fingerprint scan ran twice. With the spilled cluster
    frame the returned plan must not scan documents at all (the
    fingerprint pass executes once, at spill time)."""
    from lance_duckdb_spark.operators.curation import leakage_safe_split

    df = leakage_safe_split(spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "leakage-per" in plan
    assert "documents.parquet" not in plan
    assert len(df.collect()) > 0
