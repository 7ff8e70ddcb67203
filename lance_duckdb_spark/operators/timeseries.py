"""Time-series serving patterns over the events stream.

``continuous_aggregate`` is the hypertable/materialized-rollup shape
(TimescaleDB continuous aggregates, Druid rollup segments): closed
hours live in a PERSISTED pre-aggregated store, only the open tail
is read raw, and a query unions the two. At 100 TB of event history
a daily dashboard reads k·hours rollup rows plus the last day of raw
events — IO independent of retention length. The rollup store is
parquet partitioned by day, so the 7-day window prunes partitions
(asserted in tests/test_timeseries.py).

Exactness: the rollup holds decimal partial sums and bigint counts —
re-aggregating partials is associative and equals the direct
aggregation bit-for-bit, which is what the oracle computes (the
driver's hash compare is the "rollup serves the same answers as raw"
guarantee a serving system must give).

Collect discipline: both the WRITE's closed-hour cutoff and the
QUERY's window cutoff are bounded 1-row collects — the write must
RECORD its coverage cutoff in the store's metadata (a query against
a store built before newer events arrived must re-read raw from the
STORE's cutoff, not from query-time now − TAIL_HOURS, or the hours
in between would silently fall on neither side), and day-partition
pruning requires a literal predicate.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from ..tables import US_PER_HOUR, load
from .common import money

TAIL_HOURS = 24  # open tail re-read raw on every query
WINDOW_HOURS = 168  # the query: last 7 days including the tail

# contract schema of the daily summary, shared with the stream-
# maintained twin (streaming/jobs.py) so the empty-input early
# returns can never drift apart
DAILY_SUMMARY_SCHEMA = (
    "d date, event_type string, n_events bigint, sum_value double"
)


def _hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.select(
        F.expr(f"ts_us DIV {US_PER_HOUR}").alias("hour_idx"),
        "event_type",
        money("value").alias("v"),
    )


def _max_hour(hours: DataFrame) -> DataFrame:
    return hours.agg(F.max("hour_idx").alias("max_h"))


_META_FILE = "_rollup_meta.json"  # underscore-prefixed: parquet readers skip it


def _read_store_meta(store_dir: str) -> dict | None:
    try:
        with open(os.path.join(store_dir, _META_FILE)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        # missing OR corrupt/truncated meta (a writer killed mid-dump
        # before the atomic replace existed) — both take the
        # serve-everything-raw fallback instead of failing the query
        # (r8 review finding)
        return None


def build_rollup_store(
    spark: SparkSession,
    sf_dir: str,
    store_dir: str,
    max_h: int | None = None,
) -> None:
    """Materialize closed hours (everything before the open tail):
    per (hour, event_type) bigint count + decimal(18,2) partial sum,
    written as parquet partitioned by day for window pruning.

    The store records its COVERAGE CUTOFF (`closed_below_hour`) in
    ``_rollup_meta.json``: every hour < cutoff is in the store,
    every hour >= cutoff must come from raw. rollup_query reads the
    cutoff back so a store built before newer events arrived serves
    a longer raw tail instead of silently dropping the hours between
    its cutoff and query-time now − TAIL_HOURS (r7 review finding).

    INGESTION CONTRACT (r8 review): the cutoff design assumes event
    time is ingested within a bounded watermark — an event arriving
    AFTER the build with hour < cutoff is in neither the store nor
    the raw tail and would be undercounted. That is the same
    assumption every watermark-based streaming aggregate makes (the
    stream-maintained twin, D8 contagg, is immune: it folds each
    committed micro-batch regardless of its event hours). TAIL_HOURS
    (24h) IS the watermark here: rebuild at least daily, or rebuild
    whenever late data beyond it is possible — the driver query
    rebuilds per call and is exact by construction.

    ``max_h`` (r14 optimization): a caller that has already computed
    MAX(hour_idx) over the SAME immutable events table passes it in
    to skip the re-scan (continuous_aggregate runs build+query
    back-to-back; the second full-scan aggregate was pure repeat
    work). None = compute here, the standalone contract."""
    hours = _hourly(spark, sf_dir)
    if max_h is None:
        max_h = _max_hour(hours).first()["max_h"]  # bounded 1-row collect
    cutoff = None if max_h is None else max_h - TAIL_HOURS
    if cutoff is not None:
        (
            hours.where(F.col("hour_idx") < F.lit(cutoff))
            .groupBy("hour_idx", "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("v").alias("sum_v"),
            )
            .withColumn("day_idx", F.expr("hour_idx DIV 24"))
            .repartition("day_idx")
            .write.mode("overwrite")
            .partitionBy("day_idx")
            .parquet(store_dir)
        )
    else:
        os.makedirs(store_dir, exist_ok=True)
    # atomic publish (tmp + replace): a reader never sees a torn meta
    # and a crashed writer leaves the previous generation intact
    meta_path = os.path.join(store_dir, _META_FILE)
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"closed_below_hour": cutoff}, fh)
    os.replace(tmp, meta_path)


def rollup_query(
    spark: SparkSession,
    sf_dir: str,
    store_dir: str,
    max_h: int | None = None,
) -> DataFrame:
    """Last-7-days daily summary = pruned rollup partitions for the
    closed hours UNION the raw open tail, re-aggregated to days.

    The max-hour cutoff is a bounded 1-row collect (the k-centroid
    discipline), NOT a broadcast join: parquet partition pruning on
    ``day_idx`` needs a LITERAL predicate — a join-derived filter
    cannot prune directories, which would silently re-read the full
    retention history (r4 review finding). With literals the store
    scan opens only the window's day partitions (plan-asserted in
    tests/test_timeseries.py).

    ``max_h`` (r14 optimization, same contract as
    build_rollup_store's): skip the MAX re-scan when the caller
    already holds it for the same immutable events table."""
    hours = _hourly(spark, sf_dir)
    if max_h is None:
        max_h = _max_hour(hours).first()["max_h"]  # 1 row by construction
    if max_h is None:
        # empty events: MAX() is NULL and the window arithmetic
        # would crash opaquely — serve the honest empty summary
        # with the contract schema instead (r4 ADVICE edge)
        return local_frame(spark, [], DAILY_SUMMARY_SCHEMA)
    lo_hour = max_h - WINDOW_HOURS
    # the raw/rollup boundary is the STORE's recorded cutoff, not
    # query-time max_h - TAIL_HOURS: a store built before newer
    # events arrived covers less than a fresh one would, and the
    # difference must be served raw, not dropped. None (no closed
    # hours at build, or a legacy store without metadata) = serve
    # everything raw.
    meta = _read_store_meta(store_dir)
    cutoff = meta["closed_below_hour"] if meta else None
    tail = hours.where(F.col("hour_idx") > lo_hour)
    if cutoff is not None:
        tail = tail.where(F.col("hour_idx") >= F.lit(cutoff))
    tail = tail.groupBy("hour_idx", "event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("sum_v")
    )
    if cutoff is None:
        hourly = tail
    else:
        # explicit schema (tail's columns + the day_idx partition
        # col): a store whose closed set was EMPTY at build holds no
        # part files, and schema inference over _SUCCESS alone
        # throws instead of serving the tail-only summary (r7 review
        # finding)
        from pyspark.sql.types import LongType, StructField, StructType

        store_schema = StructType(
            list(tail.schema.fields) + [StructField("day_idx", LongType())]
        )
        closed = (
            spark.read.schema(store_schema)
            .parquet(store_dir)
            .where(F.col("day_idx") >= lo_hour // 24)  # partition pruning
            .where(F.col("hour_idx") > lo_hour)
            .select("hour_idx", "event_type", "n", "sum_v")
        )
        hourly = closed.unionByName(tail)
    return (
        hourly
        .withColumn(
            "d", F.date_add(F.lit("1970-01-01"), F.expr("CAST(hour_idx DIV 24 AS INT)"))
        )
        .groupBy("d", "event_type")
        .agg(
            F.sum("n").cast("bigint").alias("n_events"),
            F.sum("sum_v").cast("double").alias("sum_value"),
        )
        .orderBy("d", "event_type")
    )


def continuous_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: build the rollup store, then serve the 7-day
    window from rollup + tail. Hash-exact against the oracle's
    direct aggregation over raw events — the materialized path must
    be indistinguishable from recomputation."""
    tag = os.path.basename(sf_dir.rstrip("/"))
    store = os.path.join("/tmp/lance_duckdb_spark", tag, "rollup_store")
    shutil.rmtree(store, ignore_errors=True)
    # ONE max-hour collect feeds both the build cutoff and the query
    # window (r14): events is immutable for the call's duration, so
    # the value is identical — the second full-scan MAX aggregate
    # was pure repeat work.
    max_h = _max_hour(_hourly(spark, sf_dir)).first()["max_h"]
    build_rollup_store(spark, sf_dir, store, max_h=max_h)
    return rollup_query(spark, sf_dir, store, max_h=max_h)


CONTINUOUS_AGGREGATE_SQL = f"""
WITH h AS (
  SELECT epoch_us(ts) // {US_PER_HOUR} AS hour_idx, event_type,
         CAST(value AS DECIMAL(18,2)) AS v
  FROM events
),
mx AS (SELECT MAX(hour_idx) AS max_h FROM h)
SELECT DATE '1970-01-01' + CAST(hour_idx // 24 AS INT) AS d,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(v) AS DOUBLE) AS sum_value
FROM h, mx
WHERE hour_idx > max_h - {WINDOW_HOURS}
GROUP BY 1, 2
ORDER BY d, event_type
"""


# ---------------------------------------------------- sketch rollup

def build_sketch_store(
    spark: SparkSession, sf_dir: str, store_dir: str
) -> None:
    """Daily per-event-type HLL sketches of user_id (Apache
    DataSketches via hll_sketch_agg), persisted as binary parquet.
    The point of sketches over counts: COUNT(DISTINCT) partials are
    NOT mergeable (distinct users of day A + day B ≠ distinct of
    A∪B), but HLL sketches union losslessly — so month/quarter
    distincts are served from k bytes/day without ever re-scanning
    raw history. The write is one map-side-combinable shuffle."""
    ev = load(spark, sf_dir, "events")
    (
        ev.select(
            F.expr("ts_us DIV 86400000000").alias("day_idx"),
            "event_type",
            "user_id",
        )
        .groupBy("day_idx", "event_type")
        .agg(
            F.hll_sketch_agg("user_id").alias("sketch"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .write.mode("overwrite")
        .parquet(store_dir)
    )


# DataSketches HLL at the default lgConfigK=12 has ~1.6% relative
# standard error; the hashed flag asserts 5% (the same bound
# tests/test_timeseries.py asserts on the raw estimate).
SKETCH_RELTOL = 0.05


def sketch_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve per-event-type DISTINCT USERS over the whole month by
    UNIONING the persisted daily sketches — the mergeable-sketch
    analogue of continuous_aggregate (COUNT DISTINCT partials don't
    merge; HLL sketches do).

    Hash discipline (r5): the DataSketches estimate itself has no
    DuckDB bit-twin (approx_count_distinct is a different HLL), so
    the hashed columns are the EXACT deterministic sub-results the
    store carries (daily-sketch count, carried event counts) plus the
    exact distinct recomputed from raw, and the estimate is folded
    into a boolean ≤5%-error flag the oracle asserts literally TRUE —
    an estimator regression now breaks the driver hash instead of
    hiding in a rows-only row. The raw-exact recompute exists only
    for this audit; a serving system reads k bytes/day of sketches.
    """
    tag = os.path.basename(sf_dir.rstrip("/"))
    store = os.path.join("/tmp/lance_duckdb_spark", tag, "sketch_store")
    shutil.rmtree(store, ignore_errors=True)
    build_sketch_store(spark, sf_dir, store)
    sk = spark.read.parquet(store)
    merged = sk.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch"))
        .cast("double")
        .alias("approx_distinct"),
        F.count(F.lit(1)).alias("n_daily_sketches"),
        F.sum("n_events").cast("bigint").alias("n_events"),
    )
    exact = (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact_distinct_users"))
    )
    return (
        merged.join(exact, "event_type")
        .select(
            "event_type",
            "exact_distinct_users",
            "n_daily_sketches",
            "n_events",
            # zero guard: a group whose user_ids are all NULL has
            # exact = approx = 0, and 0/0 = NaN would fail the <=
            # (flag false vs the oracle's literal TRUE; r8 review) —
            # an exact zero matched by an approx zero IS within tol
            (
                (
                    (F.col("exact_distinct_users") == 0)
                    & (F.col("approx_distinct") == 0)
                )
                | (
                    F.abs(
                        F.col("approx_distinct")
                        - F.col("exact_distinct_users")
                    )
                    / F.col("exact_distinct_users")
                    <= SKETCH_RELTOL
                )
            ).alias("sketch_within_tol"),
        )
        .orderBy("event_type")
    )


SKETCH_DISTINCT_ROLLUP_SQL = """
WITH e AS (
  SELECT epoch_us(ts) // 86400000000 AS day_idx, event_type, user_id
  FROM events
)
SELECT event_type,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct_users,
  CAST(COUNT(DISTINCT day_idx) AS BIGINT) AS n_daily_sketches,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  TRUE AS sketch_within_tol
FROM e
GROUP BY event_type
ORDER BY event_type
"""


QUERIES = {
    "continuous_aggregate": continuous_aggregate,
    "sketch_distinct_rollup": sketch_distinct_rollup,
}

ORACLE = {
    "continuous_aggregate": CONTINUOUS_AGGREGATE_SQL,
    "sketch_distinct_rollup": SKETCH_DISTINCT_ROLLUP_SQL,
}
