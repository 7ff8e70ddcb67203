"""sf10 scale smoke for the heaviest operators (r5 VERDICT item 5).

Runs the five heaviest pipeline operators at DECORRELATED sf1 and
sf10 (tools/gen_sf.py --decorrelate: replicas carry per-replica word
suffixes / embedding sign-flips, so within-replica near-dup
structure is preserved exactly while cross-replica pairs vanish —
10x the data must then produce ~10x the candidate/result pairs if
the band/df-cap bounds hold; the driver's plain replication would
make pair counts quadratic BY CONSTRUCTION, which tests the data
generator, not the operators).

For embedding near-dup the smoke runs ``ivf_neardup_pairs`` — the
declared scale path (SemDeDup-style cluster-then-compare, bucket
count scaled to corpus size) — at threshold 0.8 over corpora with
PLANTED true duplicates (gen_sf --plant-neardups: one cos-0.95 copy
per 20 rows). Why not the LSH variant, and why 0.8: the r7 smoke
measured both that sign-RP LSH's 3-bit bands prune random pairs
only ~2x (quadratic candidate growth) AND that at threshold 0.4 the
TRUTH itself grows quadratically — 64-dim random cosines are
~N(0, 1/8), so decorrelated replicas still genuinely exceed 0.4 at
~7e-4/pair; no operator can return fewer rows than the truth, and
pairs barely above the noise floor are not clusterable by any
bucketing scheme without quadratic work. At 0.8 (6.4 sigma) the
planted pairs are the entire ground truth and grow linearly by
construction, so result linearity again measures candidate
bounding. ``embedding_neardup`` (exact) and ``lsh_neardup_pairs``
remain the sf0.01-grade audit tools.

Usage: python tools/run_scale_smoke.py [sfd1_dir sfd10_dir] [--only=a,b]
Writes SCALE_SMOKE.json + SCALE_SMOKE.md at the repo root and exits
non-zero if any pair-count ratio falls outside [5, 25] (linear
within hash slack; quadratic blowup would be ~100x). With --only,
just the named ops re-run; every other op's row is carried over
from the existing SCALE_SMOKE.json so one new op doesn't cost a
full ~20-minute re-measure of the stable ones.

Tier 3 (r9, the second measured decade): ``--tier3 [sfd100_dir]``
re-runs the TIER3 roster at a 1000-fold decorrelated amplification
(.data/sfd100 by default, gen_sf.py k=1000) and records
sf100_rows/sf100_sec plus ratios AGAINST THE sf10 LEG — two
independently measured decades. Roster notes (no silent caps):

- ngram_jaccard is EXCLUDED at tier 3 for output size, not operator
  cost: its result set is itself ~0.5B rows at sfd100 (11x per
  decade, measured) — a ~2h count-only run that measures the
  parquet writer more than the operator. Its one-decade linearity
  stands as measured.
- embedding_ivf_neardup / ann_knn_join_vec joined the tier-3
  roster in r10: past TWO_LEVEL_MIN_K fine centroids the operators
  auto-route through the coarse-quantizer tier
  (similarity.two_level_assign — driver holds only ~sqrt(k) coarse
  seeds, per-vector work O(sqrt(k)) instead of O(k)), which removes
  the flat-IVF O(n^2/500) assignment and the growing driver
  collect that excluded them at r9.

Tier 4 (r10, the third measured decade for the IVF legs; r11 adds
the span + minhash text legs — generate .data/sfd1000 with
--tables=embeddings,documents): ``--tier4 [sfd1000_dir]`` re-runs
the TIER4 roster at a 10000-fold amplification and records
sf1000_rows/sf1000_sec plus ratios AGAINST THE sf100 LEG. The knn leg ENOSPC'd this container twice
(every bucket pair was shuffled into the global dedupe+window —
~190 GB at 20M vectors) before the per-bucket local top-K fix in
knn_join.score_bucket (r10) made emission K rows per (query,
probe); with it the leg measures 9.5x rows / 9.0x time per decade
and the sf100 leg itself dropped 347s -> 45s, identical rows.
"""

from __future__ import annotations

import json
import os
import resource
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

LINEAR_LO, LINEAR_HI = 5.0, 25.0
SCAN_SEC_HI = 20.0  # "scan"-kind ops gate on runtime ratio instead


# The ops re-measured one decade further at --tier3, cheap-first so
# a crash preserves the most rows (see module docstring for why
# ngram_jaccard and the two IVF legs are excluded there).
TIER3_OPS = [
    "ann_sq8_topk_scan",
    "minhash_lsh_candidates",
    "dedup_minhash_lsh_pairs",
    "dedup_incremental_pairs",
    "contamination_bloom_grams",
    "perplexity_score_rows",
    "dedup_span_dup_grams",
    # r10: two-level IVF unlocked the second decade for these
    "embedding_ivf_neardup_pairs",
    "ann_knn_join_vec_rows",
    # r11: the fully-distributed deletion-vector DELETE (executor-
    # side per-fragment side-file writes; driver sees O(hit
    # fragments) metadata)
    "lance_delete_10pct_rows",
    # r13: filtered ANN end-to-end (two-level auto-engages at sfd100:
    # k = 2.1M/500 = 4200 >= TWO_LEVEL_K_MIN)
    "ann_ivf_filtered_search",
    # r14: deletion-aware serving end-to-end (build + 10% DELETE +
    # live-masked search at head)
    "ann_after_delete_search",
]

# The third measured decade (r9 VERDICT item 1's done-criterion for
# the IVF legs: 21M vectors, k = n/500 = 42000 fine centroids,
# coarse_m = sqrt(k) = 205 — the decade where the FLAT form is
# O(n^2/500) by algebra). r11 adds the TEXT dedup legs (r10 verdict
# item 4 — the 100 TB dedup claim previously rested on sfd100):
# span coverage and the minhash-LSH pair family at 20M documents.
# Excluded at tier 4, honestly: minhash_lsh_candidates and
# dedup_incremental_pairs (same band-bucket machinery as
# dedup_minhash_lsh_pairs, which subsumes them — each would add
# ~1h+ of wall for no independent signal), ngram_jaccard (output
# itself ~5B rows — measures the writer, excluded since tier 3),
# perplexity/contamination/sq8 (single-scan legs whose constants
# were flat through sfd100; no named scale ceiling to cross), and —
# MEASURED r11, both attempted at 50M docs — the TEXT dedup legs:
# dedup_span_dup_grams (its hashed-gram stage alone is a 42 GB
# parquet spill and the follow-on gram shuffle ENOSPC'd this
# container's ~94 GB effective disk) and dedup_minhash_lsh_pairs
# (~5B shingle rows; the signature shuffle ENOSPC'd stage 4 even
# with the disk otherwise empty). Both are storage-capacity bounds
# of the test box — per-row text payloads are ~10x the IVF legs'
# vectors — not operator superlinearity: each measured linear
# across BOTH decades through sfd100 (10.0x rows; 2.98x and 8.75x
# time), and their band-/gram-bucket equi-join shape is the same
# partition-pruned plan the IVF legs proved at the third decade.
TIER4_OPS = [
    "embedding_ivf_neardup_pairs",
    "ann_knn_join_vec_rows",
]


def main() -> None:
    only: set[str] | None = None
    tier3 = False
    tier4 = False
    pos = []
    for a in sys.argv[1:]:
        if a.startswith("--only="):
            only = {t for t in a.split("=", 1)[1].split(",") if t}
        elif a == "--tier3":
            tier3 = True
        elif a == "--tier4":
            tier4 = True
        else:
            pos.append(a)
    sfd1 = pos[0] if len(pos) > 0 else os.path.join(REPO, ".data/sfd1")
    sfd10 = pos[1] if len(pos) > 1 else os.path.join(REPO, ".data/sfd10")
    sfd100 = pos[2] if len(pos) > 2 else os.path.join(REPO, ".data/sfd100")
    sfd1000 = pos[3] if len(pos) > 3 else os.path.join(REPO, ".data/sfd1000")

    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    from pyspark.sql import functions as F

    from lance_duckdb_spark.operators import (
        curation,
        dedup,
        knn_join,
        quantize,
        similarity,
        spans,
        text,
    )
    from lance_duckdb_spark.session import get_spark
    from lance_duckdb_spark.tables import load

    spark = get_spark("scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")

    def delete_10pct(d: str) -> int:
        """Write the documents corpus (id + source — the DELETE
        machinery is payload-width-independent) as a lance dataset,
        then DELETE ~10% by predicate through the deletion-vector
        path. Run under ``--only=lance_delete_10pct_rows`` when
        reading the driver-RSS columns: maxrss is a process-wide
        high-watermark, so a mixed-roster run inherits other ops'
        peaks."""
        import shutil as sh

        from lance_duckdb_spark.sources import maintenance as mt
        from lance_duckdb_spark.sources.datasource import register

        register(spark)
        root = os.path.join(REPO, ".data", "smoke_delete.lance")
        sh.rmtree(root, ignore_errors=True)
        try:
            load(spark, d, "documents").select(
                "doc_id", "source"
            ).write.format("lance").mode("overwrite").save(root)
            return mt.delete_where_sql(spark, root, "doc_id % 10 = 3")
        finally:
            sh.rmtree(root, ignore_errors=True)

    def filtered_ann_search(d: str) -> int:
        import shutil

        import pyarrow.parquet as _pq

        from lance_duckdb_spark.sources.datasource import register
        from lance_duckdb_spark.sources.vector_index import (
            ann_search,
            build_ivf_index,
        )

        register(spark)
        tag = os.path.basename(d.rstrip("/"))
        root = os.path.join(
            REPO, ".data", "smoke_work", f"{tag}_ivf_filtered.lance"
        )
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(os.path.dirname(root), exist_ok=True)
        emb = load(spark, d, "embeddings")
        emb.select("vec_id", "embedding", "label").write.format(
            "lance"
        ).mode("overwrite").save(root)
        n = _pq.read_metadata(
            os.path.join(d, "embeddings.parquet")
        ).num_rows
        # ~500 vectors per bucket at every scale (the same rule as
        # the ivf_neardup leg); nprobe stays CONSTANT — the per-probe
        # pruned IO is a fixed bucket count, a shrinking fraction of
        # the index as the corpus grows
        build_ivf_index(spark, root, k=max(16, n // 500), lloyd_iters=1)
        probes = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("probe_id"), "embedding"
        )
        out = ann_search(
            spark,
            root,
            probes,
            k_neighbors=10,
            nprobe=12,
            filter="label IN (2, 5)",
        ).collect()
        assert all(r["cos_sim"] is not None for r in out)
        return len(out)

    def after_delete_ann_search(d: str) -> int:
        """r14 deletion-aware serving at scale: build the IVF index,
        deletion-vector-DELETE ~10% (the executor-side side-file
        path), then search at HEAD — the live-mask anti-join must
        stay a fixed-cost step (one narrow id scan of masked
        fragments) with flat driver RSS as the corpus grows."""
        import shutil

        import pyarrow.parquet as _pq

        from lance_duckdb_spark.catalog import lance_sql
        from lance_duckdb_spark.sources.datasource import register
        from lance_duckdb_spark.sources.vector_index import (
            ann_search,
            build_ivf_index,
        )

        register(spark)
        tag = os.path.basename(d.rstrip("/"))
        root = os.path.join(
            REPO, ".data", "smoke_work", f"{tag}_ivf_afterdel.lance"
        )
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(os.path.dirname(root), exist_ok=True)
        emb = load(spark, d, "embeddings")
        emb.select("vec_id", "embedding", "label").write.format(
            "lance"
        ).mode("overwrite").save(root)
        n = _pq.read_metadata(
            os.path.join(d, "embeddings.parquet")
        ).num_rows
        build_ivf_index(spark, root, k=max(16, n // 500), lloyd_iters=1)
        lance_sql(
            spark, f"DELETE FROM '{root}' WHERE vec_id % 10 = 3"
        ).collect()
        probes = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("probe_id"), "embedding"
        )
        out = ann_search(
            spark, root, probes, k_neighbors=10, nprobe=12
        ).collect()
        assert out and all(r["neighbor_id"] % 10 != 3 for r in out)
        return len(out)

    def minhash_candidates(d: str) -> int:
        docs = load(spark, d, "documents")
        bands = dedup._band_hashes(
            dedup._minhash_signatures(dedup._shingle_df(docs))
        )
        return dedup._lsh_candidates(bands).count()

    OPS = {
        # name -> (callable(sf_dir) -> rowcount, kind)
        "dedup_minhash_lsh_pairs": (
            lambda d: dedup.dedup_minhash_lsh(spark, d).count(), "pairs"),
        "minhash_lsh_candidates": (minhash_candidates, "pairs"),
        "dedup_incremental_pairs": (
            lambda d: dedup.dedup_incremental(spark, d).count(), "pairs"),
        "ngram_jaccard_pairs": (
            lambda d: dedup.ngram_jaccard(spark, d).count(), "pairs"),
        "embedding_ivf_neardup_pairs": (
            lambda d: similarity.ivf_neardup_pairs(
                spark,
                d,
                threshold=0.8,
                # bucket count scaled to corpus size: ~500 vectors
                # per bucket regardless of scale — the setting that
                # makes within-bucket pair work linear in n
                k=max(16, load(spark, d, "embeddings").count() // 500),
            ).count(),
            "pairs",
        ),
        "perplexity_score_rows": (
            lambda d: text.perplexity_score(spark, d).count(), "rows"),
        # span-level dedup (r7): rows are per-doc, trivially 10x;
        # the linearity signal is the duplicated-GRAM count — if the
        # decorrelated replicas spuriously shared grams, dup_grams
        # would grow quadratically. Summed as one long.
        "dedup_span_dup_grams": (
            lambda d: int(
                spans.dedup_span_coverage(spark, d)
                .agg(F.sum("dup_grams")).collect()[0][0]
            ),
            "pairs",
        ),
        # The KNN join (registered as both ann_knn_join and
        # ann_knn_join_vectorized) runs at the same ~500-per-bucket k
        # rule as the ivf_neardup entry: with the driver-default k=16
        # its candidate work is corpus^2/k by construction (2e9 dots
        # at sfd10). Output rows are |Q|*5 (trivially 10x); the
        # signal is the runtime ratio.
        "ann_knn_join_vec_rows": (
            lambda d: knn_join.ann_knn_join_vectorized(
                spark,
                d,
                k_centroids=max(
                    16, load(spark, d, "embeddings").count() // 500
                ),
            ).count(),
            "rows",
        ),
        # r8: bloom-prefiltered decontamination — decorrelated
        # replicas share no cross-replica grams, so contaminated-gram
        # hits must grow ~10x; a leaky bloom candidate bound (or a
        # broken recheck) would show as superlinear growth.
        "contamination_bloom_grams": (
            lambda d: int(
                curation.contamination_bloom(spark, d)
                .agg(F.sum("contaminated_grams"))
                .collect()[0][0]
            ),
            "pairs",
        ),
        # r8: SQ8 compressed-domain exact top-k — output rows are
        # constant (N_PROBES*k) by construction, so the linearity
        # signal is RUNTIME: one corpus scan against fixed broadcast
        # probes must cost ~10x at 10x data, never ~100x ("scan"
        # kind gates sec_ratio instead of row_ratio).
        "ann_sq8_topk_scan": (
            lambda d: quantize.ann_sq8_topk(spark, d).count(), "scan"),
        # r13: FILTERED ANN end-to-end (build + pre-filtered pruned
        # search, label IN (2,5) ~20% selectivity). Output rows are
        # constant (10 probes x k=10) by construction, so the
        # linearity signal is RUNTIME: the build is linear (Lloyd
        # over n; two-level past k=4096) and the search's pruned IO
        # per probe is a CONSTANT bucket count (nprobe=12) of
        # ~500-vector buckets plus a linear qualifying-id column
        # scan — total must cost ~10x at 10x data, never ~100x.
        "ann_ivf_filtered_search": (filtered_ann_search, "scan"),
        "ann_after_delete_search": (after_delete_ann_search, "scan"),
        # r11 (verdict item 1 done-criterion): DELETE ~10% of the
        # documents corpus through the deletion-vector path. The
        # per-fragment side files are written EXECUTOR-side and the
        # driver receives O(hit fragments) metadata, so the python
        # driver's RSS must stay flat across decades while deleted
        # rows grow 10x — both are recorded (driver_rss_mb_* keys);
        # rows are the linearity gate.
        "lance_delete_10pct_rows": (delete_10pct, "pairs"),
    }

    json_path = os.path.join(REPO, "SCALE_SMOKE.json")

    def _dump(results: dict) -> None:
        # rewrite after EVERY op (r6: a JVM crash on op 4 of 6 threw
        # away three already-measured results — nothing had been
        # persisted). A crash on op N now preserves ops 1..N-1 plus
        # an explicit status:error row for op N.
        with open(json_path, "w") as fh:
            json.dump(results, fh, indent=1)

    if tier3 or tier4:
        # later measured decades: amend existing rows in place, never
        # re-run the earlier legs (they are the carried baseline)
        with open(json_path) as fh:
            results = json.load(fh)
        tiers = []
        if tier3:
            tiers.append((TIER3_OPS, sfd100, "100", "sf100", "sf10"))
        if tier4:
            tiers.append((TIER4_OPS, sfd1000, "1000", "sf1000", "sf100"))
        for roster_all, tier_dir, suf, tag, base_tag in tiers:
            roster = [n for n in roster_all if only is None or n in only]
            for name in roster:
                fn, kind = OPS[name]
                row = results[name]
                if f"{base_tag}_rows" not in row:
                    raise SystemExit(
                        f"{name} has no {base_tag} leg to ratio against "
                        "— run the earlier tier first"
                    )
                try:
                    t0 = time.perf_counter()
                    n = fn(tier_dir)
                    row[f"{tag}_rows"] = n
                    row[f"{tag}_sec"] = round(time.perf_counter() - t0, 2)
                    # python-driver high-watermark: flat across
                    # decades = no driver-side data funnel (read
                    # from an --only run; maxrss is process-wide)
                    row[f"{tag}_driver_rss_mb"] = (
                        resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
                        // 1024
                    )
                    row[f"row_ratio_{suf}"] = (
                        round(row[f"{tag}_rows"] / row[f"{base_tag}_rows"], 2)
                        if row[f"{base_tag}_rows"]
                        else None
                    )
                    row[f"sec_ratio_{suf}"] = (
                        round(row[f"{tag}_sec"] / row[f"{base_tag}_sec"], 2)
                        if row[f"{base_tag}_sec"]
                        else None
                    )
                    if kind == "pairs":
                        r = row[f"row_ratio_{suf}"]
                        row[f"linear_ok_{suf}"] = (
                            r is not None and LINEAR_LO <= r <= LINEAR_HI
                        )
                    else:
                        sr = row[f"sec_ratio_{suf}"]
                        row[f"linear_ok_{suf}"] = (
                            sr is not None and sr <= SCAN_SEC_HI
                        )
                    print(name, tag, row, flush=True)
                except Exception as exc:  # noqa: BLE001
                    row["status"] = "error"
                    msg = f"{type(exc).__name__}: {exc}"[:500]
                    row["error"] = msg.replace("\n", " ").replace("|", "/")
                    print(name, "ERROR", row["error"], flush=True)
                    _dump(results)
                    try:
                        spark.sql("SELECT 1").collect()
                    except Exception:
                        print("JVM unreachable; aborting remaining ops",
                              flush=True)
                        break
                _dump(results)
                # recycle the session between tier ops: shuffle files
                # live until context stop, and two sfd1000-scale legs
                # back-to-back overflowed the disk (r10 measured —
                # the knn leg died on ENOSPC from the neardup leg's
                # ~40 GB of retained shuffle)
                try:
                    spark.stop()
                except Exception:
                    pass
                spark = get_spark("scale-smoke")
                spark.sparkContext.setLogLevel("ERROR")
        _write_md(results)
        bad = [
            n for n, r in results.items()
            if r.get("linear_ok") is False
            or r.get("linear_ok_100") is False
            or r.get("linear_ok_1000") is False
            or r.get("status") == "error"
        ]
        print("BAD:", bad)
        try:
            spark.stop()
        except Exception:
            pass
        sys.exit(1 if bad else 0)

    results: dict = {}
    if only is not None:
        unknown = only - OPS.keys()
        if unknown:
            raise SystemExit(f"--only names unknown ops: {sorted(unknown)}")
        if os.path.exists(json_path):
            with open(json_path) as fh:
                results = {
                    k: v for k, v in json.load(fh).items() if k not in only
                }
    for name, (fn, kind) in OPS.items():
        if only is not None and name not in only:
            continue
        row: dict = {"kind": kind, "status": "ok"}
        results[name] = row
        try:
            for tag, d in (("sf1", sfd1), ("sf10", sfd10)):
                t0 = time.perf_counter()
                n = fn(d)
                row[f"{tag}_rows"] = n
                row[f"{tag}_sec"] = round(time.perf_counter() - t0, 2)
                row[f"{tag}_driver_rss_mb"] = (
                    resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
                    // 1024
                )
                print(name, tag, row, flush=True)
                _dump(results)
            row["row_ratio"] = (
                round(row["sf10_rows"] / row["sf1_rows"], 2)
                if row["sf1_rows"]
                else None
            )
            row["sec_ratio"] = (
                round(row["sf10_sec"] / row["sf1_sec"], 2)
                if row["sf1_sec"]
                else None
            )
            if kind == "pairs":
                r = row["row_ratio"]
                row["linear_ok"] = (
                    r is not None and LINEAR_LO <= r <= LINEAR_HI
                )
            elif kind == "scan":
                # constant-output scans: gate the runtime ratio —
                # 10x data must cost O(10x), generously bounded
                # (timer noise on the small sf1 leg), never ~100x
                s = row["sec_ratio"]
                row["linear_ok"] = s is not None and s <= SCAN_SEC_HI
        except Exception as exc:  # noqa: BLE001 — record, don't abort report
            row["status"] = "error"
            # one line, no pipes: Py4J errors are multi-line Java
            # stack traces that would otherwise shred the md table
            msg = f"{type(exc).__name__}: {exc}"[:500]
            row["error"] = msg.replace("\n", " ").replace("|", "/")
            print(name, "ERROR", row["error"], flush=True)
            _dump(results)
            # a dead JVM kills every later op too — stop measuring,
            # the report stays partial-but-persisted
            try:
                spark.sql("SELECT 1").collect()
            except Exception:
                print("JVM unreachable; aborting remaining ops", flush=True)
                break
        _dump(results)
    try:
        spark.stop()
    except Exception:
        pass
    _write_md(results)
    bad = [
        n for n, r in results.items()
        if r.get("linear_ok") is False
        or r.get("linear_ok_100") is False
        or r.get("linear_ok_1000") is False
        or r.get("status") == "error"
    ]
    print("BAD:", bad)
    sys.exit(1 if bad else 0)


def _write_md(results: dict) -> None:
    lines = [
        "# Scale smoke (two measured decades)",
        "",
        "Decorrelated 10x/100x/1000x amplification of sf0.1 documents +",
        "embeddings (`tools/gen_sf.py --decorrelate`; see module",
        "docstring of tools/run_scale_smoke.py for why plain key-offset",
        "replication cannot measure pair-count linearity). A pair-count",
        f"ratio inside [{LINEAR_LO}, {LINEAR_HI}] for 10x data means the",
        "LSH band / df-cap / bucket bounds hold one decade up — no",
        "quadratic candidate blowup (which would show as ~100x). The",
        "sf100 columns are the SECOND measured decade (sfd100 vs sfd10,",
        "`--tier3`); sf1000 columns the THIRD (sfd1000 vs sfd100,",
        "`--tier4` — the IVF legs through the two-level coarse",
        "quantizer); blank = not in that tier's roster (module",
        "docstring records exactly why each exclusion exists).",
        "",
        "| metric | sf1 rows | sf10 rows | ratio | sf1 s | sf10 s | s ratio | linear | sf100 rows | ratio | sf100 s | s ratio | linear | sf1000 rows | ratio | sf1000 s | s ratio | linear |",
        "|---|---|---|---|---|---|---|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    for name, r in results.items():
        if r.get("status") == "error" and "sf10_rows" not in r:
            lines.append(
                f"| {name} | ERROR: {r['error'][:80]} | | | | | | | | | | | | | | | | |"
            )
            continue
        t3 = (
            f" {r['sf100_rows']} | {r['row_ratio_100']} "
            f"| {r['sf100_sec']} | {r['sec_ratio_100']} "
            f"| {r.get('linear_ok_100', '-')} "
            if "sf100_rows" in r
            else "  |  |  |  |  "
        )
        t4 = (
            f" {r['sf1000_rows']} | {r['row_ratio_1000']} "
            f"| {r['sf1000_sec']} | {r['sec_ratio_1000']} "
            f"| {r.get('linear_ok_1000', '-')} "
            if "sf1000_rows" in r
            else "  |  |  |  |  "
        )
        lines.append(
            f"| {name} | {r['sf1_rows']} | {r['sf10_rows']} "
            f"| {r['row_ratio']} | {r['sf1_sec']} | {r['sf10_sec']} "
            f"| {r['sec_ratio']} | {r.get('linear_ok', '-')} |{t3}|{t4}|"
        )
    notes = [
        f"- **{name}**: {r['tier4_note']}"
        for name, r in results.items()
        if r.get("tier4_note")
    ]
    if notes:
        lines += ["", "Tier-4 exclusion notes (measured, not assumed):", ""]
        lines += notes
    with open(os.path.join(REPO, "SCALE_SMOKE.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
