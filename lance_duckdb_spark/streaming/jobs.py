"""Structured Streaming jobs (SURVEY.md §2.D).

The reference exposes a batch-iterator stream scan
(rust/lib.rs:148-188); Spark's native expression of "stream of
batches over a growing dataset" is Structured Streaming. Jobs here
run over the lance stream source (sources/datasource.py
LanceStreamReader — micro-batch per appended fragment set) or any
other streaming DataFrame.

- ``windowed_counts``: tumbling 1-hour counts/sums per event_type
  with a 10-minute watermark. The watermark bounds state: at 100 TB
  /day ingest, state is O(active windows × event types), not O(rows).
- ``stateful_sessions``: gap-based sessionization via
  ``applyInPandasWithState`` — per-user state survives across
  micro-batches, the one shape plain windowed aggregation cannot
  express incrementally.
- ``batch_windowed_counts``: the same windowed aggregation as a
  batch query (integer-µs arithmetic) — the driver-checkable oracle
  twin; tests assert stream == batch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.common import bulk_two_sixths_cuts as _cuts, money
from ..session import local_frame
from ..tables import US_PER_HOUR, load

WATERMARK = "10 minutes"


def with_event_time(df: DataFrame) -> DataFrame:
    """ts_us (int64 µs) → a proper timestamp column for watermarking."""
    return df.withColumn("ts", F.timestamp_micros(F.col("ts_us")))


def windowed_counts_stream(events: DataFrame) -> DataFrame:
    """Streaming tumbling-window aggregation with watermark."""
    return (
        with_event_time(events)
        .withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(money("value")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def batch_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of windowed_counts_stream, in exact integer-µs
    arithmetic (window id = hours since epoch) so DuckDB can oracle
    it engine-independently."""
    ev = load(spark, sf_dir, "events")
    hour_idx = F.expr(f"ts_us DIV {US_PER_HOUR}").alias("hour_idx")
    return (
        ev.groupBy(hour_idx, "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(money("value")).cast("double").alias("sum_value"),
        )
        .orderBy("hour_idx", "event_type")
    )


BATCH_WINDOWED_COUNTS_SQL = """
SELECT epoch_us(ts) // 3600000000 AS hour_idx, event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY hour_idx, event_type
"""

SESSION_GAP_US = 30 * 60 * 1_000_000


def _merge_session_intervals(
    state: tuple | None, ts: list[int]
) -> tuple[list[tuple], tuple]:
    """The cross-batch session algebra of stateful_sessions_stream,
    extracted for direct unit testing (the streaming harness cannot
    produce its hardest input — a watermark-legal event more than a
    gap before the open session's start — while gap > watermark
    delay). Returns (closed_intervals, open_state); each interval is
    (start_ts, last_ts, n_events). ``ts`` must be sorted ascending;
    ``ts`` non-empty or ``state`` not None."""
    intervals: list[list] = []
    if state is not None:
        intervals.append(list(state))
    cur = None
    for t in ts:
        if cur is not None and t - cur[1] <= SESSION_GAP_US:
            cur[1] = t
            cur[2] += 1
        else:
            cur = [t, t, 1]
            intervals.append(cur)
    intervals.sort(key=lambda iv: (iv[0], iv[1]))
    merged: list[list] = []
    for iv in intervals:
        if merged and iv[0] - merged[-1][1] <= SESSION_GAP_US:
            merged[-1][1] = max(merged[-1][1], iv[1])
            merged[-1][2] += iv[2]
        else:
            merged.append(iv)
    return [tuple(iv) for iv in merged[:-1]], tuple(merged[-1])


def stateful_sessions_stream(events: DataFrame) -> DataFrame:
    """Per-user gap sessionization with explicit state across
    micro-batches (applyInPandasWithState) and *watermark-driven
    state eviction* (EventTimeTimeout).

    Emits one row per CLOSED session — closed either by a later
    event whose gap exceeds SESSION_GAP_US, or by the event-time
    timeout firing once the watermark passes ``last_ts + gap`` (the
    session can no longer be extended, so it is emitted and its
    state REMOVED). Per-user state is therefore bounded by the
    *active* user population inside one watermark horizon, not by
    the all-time user count — the property that keeps this runnable
    against an unbounded stream at 100 TB/day.

    Session bounds use the same convention as
    :func:`session_window_native`: ``end = last_ts + gap``. A
    watermark-legal event more than a gap BEFORE the open session's
    start forms its own earlier session (emitted at once) rather
    than stretching the open session backward — the split the native
    convention implies (r9 advice).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    output_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("start_us", LongType()),
            StructField("end_us", LongType()),
            StructField("n_events", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("start_ts", LongType()),
            StructField("last_ts", LongType()),
            StructField("n_events", LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        closed: list[tuple] = []
        if state.hasTimedOut:
            # watermark passed last_ts + gap: no event can extend
            # this session any more — emit it and EVICT the state
            start_ts, last_ts, n_events = state.get
            closed.append(
                (key[0], start_ts, last_ts + SESSION_GAP_US, n_events)
            )
            state.remove()
        else:
            ts = []
            for pdf in pdfs:
                ts.extend(pdf["ts_us"].tolist())
            ts.sort()
            # Interval algebra over cross-batch disorder (r8/r9
            # findings): batch events gap-split into (first, last, n)
            # intervals; the open state session is one more interval.
            # Chains within SESSION_GAP_US merge (an in-session late
            # event lands INSIDE the state span and must not move
            # last_ts backward or falsely close anything); a
            # severely-late event — start_ts - t > gap, watermark-
            # legal — stays its OWN earlier interval (emitted at
            # once: bounded state, one open interval per user),
            # matching the session_window_native convention instead
            # of being absorbed backward into the open session.
            if ts or state.exists:
                done, open_iv = _merge_session_intervals(
                    state.get if state.exists else None, ts
                )
                for s0, l0, n0 in done:
                    closed.append((key[0], s0, l0 + SESSION_GAP_US, n0))
                s0, l0, n0 = open_iv
                state.update((s0, l0, n0))
                # timeout is in MILLIS of event time; fires once the
                # watermark passes the session's gap-expiry instant
                state.setTimeoutTimestamp((l0 + SESSION_GAP_US) // 1000)
        yield pd.DataFrame(
            closed, columns=["user_id", "start_us", "end_us", "n_events"]
        )

    return (
        with_event_time(events)
        .withWatermark("ts", WATERMARK)
        .select("user_id", "ts_us", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=output_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE gap-session operator (F.session_window) — the
    built-in expression of what joins.sessionize_events does with
    window functions. Session bounds are emitted as integer µs
    (unix_micros is timezone-independent) so the DuckDB oracle can
    reproduce them exactly: start = min(ts), end = max(ts) + gap.

    In streaming this same groupBy(session_window(...)) is
    incrementally maintained with watermark-based state eviction —
    the batch/stream unification is the point of using the native
    operator."""
    ev = with_event_time(load(spark, sf_dir, "events"))
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("w.start").alias("start_us"),
            F.unix_micros("w.end").alias("end_us"),
            "n_events",
        )
        .orderBy("user_id", "start_us")
    )


SESSION_WINDOW_NATIVE_SQL = """
WITH g AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
          OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
),
s AS (
  SELECT user_id, ts_us,
    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
  FROM g
)
SELECT user_id, MIN(ts_us) AS start_us,
       MAX(ts_us) + 1800000000 AS end_us,
       COUNT(*) AS n_events
FROM s
GROUP BY user_id, session_idx
ORDER BY user_id, start_us
"""


_STREAM_WORKDIR = "/tmp/lance_duckdb_spark/streams"


def _fresh_stream_root(sf_dir: str, name: str) -> str:
    import os
    import shutil

    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(_STREAM_WORKDIR, tag, f"{name}.lance")
    shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(root + ".ckpt", ignore_errors=True)
    os.makedirs(os.path.dirname(root), exist_ok=True)
    return root


def _await_or_raise(q, timeout_s: int = 180) -> None:
    """awaitTermination returns False on timeout WITHOUT raising —
    every staged run must treat that as a hard failure, or a
    timed-out pass reads partial results / collides with the next
    start() on the same checkpoint (r5 review finding)."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"streaming pass did not finish within {timeout_s}s"
        )


def _read_staged_out(spark: SparkSession, out: str, schema: str) -> DataFrame:
    """Read a staged run's parquet output dir, or an EMPTY frame with
    the declared schema when no pass ever wrote it (empty events →
    _time_splits returns [] → zero passes → the path does not exist;
    spark.read.parquet would fail on the nonexistent dir)."""
    import os

    if not os.path.isdir(out):
        return local_frame(spark, [], schema)
    return spark.read.parquet(out)


def _time_splits(ev: DataFrame, n_splits: int = 3) -> list[DataFrame]:
    """events partitioned into ``n_splits`` contiguous event-time
    ranges (arrival simulated in event-time order, so watermark
    semantics behave as they would live). Empty input → no splits
    (min/max are NULL; the arithmetic would crash)."""
    lo, hi = ev.agg(F.min("ts_us"), F.max("ts_us")).first()
    if lo is None:
        return []
    step = (hi - lo) // n_splits + 1
    return [
        ev.where(
            (F.col("ts_us") >= lo + i * step)
            & (F.col("ts_us") < lo + (i + 1) * step)
        )
        for i in range(n_splits)
    ]


def staged_session_run(spark: SparkSession, sf_dir: str, name: str):
    """Run the stateful sessionizer over ``n`` REAL micro-batches.

    Spark's Python stream source does not implement AvailableNow, so
    a single start() would consume every pending fragment in ONE
    batch (no cross-batch state, no watermark movement). Instead we
    stage arrivals: append one time-ordered slice per pass and run
    an availableNow pass against the SAME checkpoint each time — the
    watermark and per-user state persist in the checkpoint, so this
    is exactly the live multi-batch execution, just driven from
    outside. Returns (emitted DataFrame, last StreamingQuery) — the
    query object exposes state-store metrics for eviction asserts.
    """
    import shutil

    from ..sources.datasource import register

    register(spark)
    root = _fresh_stream_root(sf_dir, name)
    out = root + ".out"
    shutil.rmtree(out, ignore_errors=True)
    splits = _time_splits(load(spark, sf_dir, "events"))
    q = None
    # TWO availableNow passes: the first slice alone, then the rest
    # (r8 VERDICT item 6 — the per-query-start fixed cost dominated
    # sf1 wall time). The pass boundary is a real query restart, so
    # state round-trips the checkpoint and the watermark advances
    # between passes (timeout-driven emission still fires); the
    # state function sorts each user's batch timestamps internally,
    # so a multi-slice micro-batch builds the same sessions.
    stages = (
        [splits[:1], splits[1:]] if len(splits) > 1 else [splits[:1]]
    )
    first = True
    for group in stages:
        if not group:
            continue
        for part in group:
            mode = "overwrite" if first else "append"
            part.write.format("lance").mode(mode).save(root)
            first = False
        stream = spark.readStream.format("lance").load(root)
        q = (
            stateful_sessions_stream(stream)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", root + ".ckpt")
            .trigger(availableNow=True)
            .start()
        )
        _await_or_raise(q)
    emitted = _read_staged_out(
        spark, out, "user_id long, start_us long, end_us long, n_events long"
    )
    return emitted, q


def stream_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 as a driver-checkable query: run the REAL stateful
    streaming sessionizer (EventTimeTimeout state eviction) over a
    lance stream of time-ordered micro-batches, then keep each
    user's *completed* sessions (the chronologically-last session
    may still be in flight when the finite stream ends, so it is
    excluded on both sides). Equal to the batch sessionizer's
    non-final sessions iff streaming state transitions, gap closure,
    and timeout-driven emission are all correct."""
    emitted, _q = staged_session_run(spark, sf_dir, "sessionization")
    umax = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.max("ts_us").alias("max_ts"))
    )
    return (
        emitted.join(umax, "user_id")
        # the final session's end is always max_ts + gap; whether the
        # stream emitted it (timeout fired) or not (still in flight)
        # is a shutdown-timing artifact, so drop it on both sides
        .where(F.col("end_us") != F.col("max_ts") + F.lit(SESSION_GAP_US))
        .select("user_id", "start_us", "end_us", "n_events")
        .orderBy("user_id", "start_us")
    )


STREAM_SESSIONIZATION_SQL = """
WITH g AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
          OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
),
s AS (
  SELECT user_id, ts_us,
    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
  FROM g
),
sess AS (
  SELECT user_id, MIN(ts_us) AS start_us,
         MAX(ts_us) + 1800000000 AS end_us,
         COUNT(*) AS n_events
  FROM s GROUP BY user_id, session_idx
),
umax AS (
  SELECT user_id, MAX(epoch_us(ts)) AS max_ts FROM events GROUP BY user_id
)
SELECT sess.user_id AS user_id, start_us, end_us, n_events
FROM sess JOIN umax ON sess.user_id = umax.user_id
WHERE end_us != max_ts + 1800000000
ORDER BY sess.user_id, start_us
"""


def stream_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 as a driver-checkable query: lance stream source → lance
    stream SINK (exactly-once via per-txn watermarks) → batch
    read-back. Equal to the same aggregate over the raw events iff
    every micro-batch committed exactly once and the sink's
    fragments scan losslessly."""
    from ..sources.datasource import register

    register(spark)
    src = _fresh_stream_root(sf_dir, "sinksrc")
    dst = _fresh_stream_root(sf_dir, "sinkdst")
    splits = _time_splits(load(spark, sf_dir, "events"))
    if not splits:  # empty events: no dataset was ever written at dst
        return local_frame(
            spark,
            [],
            "event_type string, n_events long, sum_value double, n_ids long",
        )
    for i, part in enumerate(splits):
        mode = "overwrite" if i == 0 else "append"
        part.coalesce(1).write.format("lance").mode(mode).save(src)
        q = (
            spark.readStream.format("lance")
            .load(src)
            .writeStream.format("lance")
            .option("checkpointLocation", dst + ".ckpt")
            .option("txnappid", "sink_roundtrip")
            .trigger(availableNow=True)
            .start(dst)
        )
        _await_or_raise(q)
    sunk = spark.read.format("lance").load(dst)
    return (
        sunk.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(money("value")).cast("double").alias("sum_value"),
            F.countDistinct("event_id").alias("n_ids"),
        )
        .orderBy("event_type")
    )


STREAM_SINK_ROUNDTRIP_SQL = """
SELECT event_type, COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
  COUNT(DISTINCT event_id) AS n_ids
FROM events GROUP BY event_type ORDER BY event_type
"""


_FIVE_MIN_US = 5 * 60 * 1_000_000

# Recall floor for the delta-maintained streaming-ingest index
# (stream_index_ingest): sits below the measured 0.86-0.92 band the
# way similarity.py's flag bounds sit below their measured bands, so
# sf-to-sf variation can't flip a driver row while a real regression
# (e.g. deltas not searched) still does.
INGEST_RECALL_BOUND = 0.75


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5: streaming exactly-once dedup via
    ``dropDuplicatesWithinWatermark`` (Spark 3.5+). Duplicates are
    INJECTED deterministically — every slice is written twice
    (within-batch dups) and each later slice is prefixed with the
    previous slice's trailing 5 minutes (cross-batch dups, inside
    the 10-min watermark so the dedup state still holds them). The
    deduped stream equals the raw events table iff within-batch,
    cross-batch, and state-eviction behavior are all correct. State
    is O(ids within one watermark horizon), not O(all ids) — the
    100 TB shape."""
    import shutil

    from ..sources.datasource import register

    register(spark)
    root = _fresh_stream_root(sf_dir, "dedupsrc")
    out = root + ".out"
    shutil.rmtree(out, ignore_errors=True)
    splits = _time_splits(load(spark, sf_dir, "events"))
    # TWO availableNow passes instead of one query per slice (r8
    # VERDICT item 6 — per-start fixed cost was most of this job's
    # sf1 wall time): pass A runs the first arrival batch alone, pass
    # B runs every later batch. The boundary between the passes is a
    # REAL query restart, so cross-batch dedup still proves state
    # survives the checkpoint round-trip; within-batch dups are in
    # every batch; later batches' cross-dups dedupe within pass B.
    # Writes stay parallel (no coalesce) — fragment granularity no
    # longer defines arrival granularity, the pass boundary does.
    prev_tail = None
    batches = []
    for part in splits:
        batch = part.unionAll(part)  # within-batch duplicates
        if prev_tail is not None:
            batch = batch.unionAll(prev_tail)  # cross-batch duplicates
        hi = part.agg(F.max("ts_us")).first()[0]
        if hi is None:  # empty slice (sparse event-time gap): no tail
            prev_tail = None
            continue
        prev_tail = part.where(F.col("ts_us") > hi - _FIVE_MIN_US)
        batches.append(batch)

    def _dedup_pass() -> None:
        q = (
            with_event_time(spark.readStream.format("lance").load(root))
            .withWatermark("ts", WATERMARK)
            .dropDuplicatesWithinWatermark(["event_id"])
            .select("event_id", "event_type", "value", "ts_us")
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", root + ".ckpt")
            .trigger(availableNow=True)
            .start()
        )
        _await_or_raise(q)

    if batches:
        batches[0].write.format("lance").mode("overwrite").save(root)
        _dedup_pass()
        if len(batches) > 1:
            for b in batches[1:]:
                b.write.format("lance").mode("append").save(root)
            _dedup_pass()
    deduped = _read_staged_out(
        spark, out,
        "event_id long, event_type string, value double, ts_us long",
    )
    return (
        deduped.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_id").alias("n_ids"),
            F.sum(money("value")).cast("double").alias("sum_value"),
        )
        .orderBy("event_type")
    )


STREAM_DEDUP_SQL = """
SELECT event_type, COUNT(*) AS n_events,
  COUNT(DISTINCT event_id) AS n_ids,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type ORDER BY event_type
"""


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6: stream-stream inner join with event-time range bounds —
    each signup joined to that user's purchases within the following
    hour, both sides watermarked so Spark bounds the join state by
    the time constraint (state = one hour + watermark of each side,
    not the whole history; the only stream-stream join shape that
    survives unbounded input). Staged micro-batches as in D2/D3;
    result equals the batch range join."""
    import shutil

    from ..sources.datasource import register

    register(spark)
    root = _fresh_stream_root(sf_dir, "ssjoinsrc")
    out = root + ".out"
    shutil.rmtree(out, ignore_errors=True)
    splits = _time_splits(load(spark, sf_dir, "events"))
    for i, part in enumerate(splits):
        mode = "overwrite" if i == 0 else "append"
        part.coalesce(1).write.format("lance").mode(mode).save(root)
        base = spark.readStream.format("lance").load(root)
        sign = (
            with_event_time(base.where(F.col("event_type") == "signup"))
            .withWatermark("ts", WATERMARK)
            .select(
                F.col("event_id").alias("signup_id"),
                F.col("user_id").alias("s_user"),
                F.col("ts").alias("s_ts"),
            )
        )
        purch = (
            with_event_time(base.where(F.col("event_type") == "purchase"))
            .withWatermark("ts", WATERMARK)
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
            )
        )
        q = (
            sign.join(
                purch,
                F.expr(
                    "s_user = p_user AND p_ts >= s_ts "
                    "AND p_ts <= s_ts + INTERVAL 1 HOUR"
                ),
            )
            .select(
                "signup_id",
                "purchase_id",
                F.col("s_user").alias("user_id"),
                (
                    F.unix_micros(F.col("p_ts")) - F.unix_micros(F.col("s_ts"))
                ).alias("lag_us"),
            )
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", root + ".ckpt")
            .trigger(availableNow=True)
            .start()
        )
        _await_or_raise(q)
    return (
        _read_staged_out(
            spark, out,
            "signup_id long, purchase_id long, user_id long, lag_us long",
        )
        .select("signup_id", "purchase_id", "user_id", "lag_us")
        .orderBy("signup_id", "purchase_id")
    )


STREAM_STREAM_JOIN_SQL = """
SELECT s.event_id AS signup_id, p.event_id AS purchase_id,
       s.user_id AS user_id,
       epoch_us(p.ts) - epoch_us(s.ts) AS lag_us
FROM events s JOIN events p
  ON s.user_id = p.user_id
 AND p.ts >= s.ts
 AND p.ts <= s.ts + INTERVAL 1 HOUR
WHERE s.event_type = 'signup' AND p.event_type = 'purchase'
ORDER BY signup_id, purchase_id
"""


_BAND_SCHEMA = "doc_id long, band_idx int, band_hash string"


def _read_epoch_store(
    spark: SparkSession,
    path: str,
    schema: str,
    exclude_epoch: int | None = None,
) -> DataFrame:
    """Read an epoch-partitioned micro-batch output store, dropping
    the epoch partition column (absent-dir → empty frame). With
    ``exclude_epoch``, rows written by that epoch are filtered out —
    a replayed batch must not see its own previous output. Only a
    genuinely ABSENT store reads as empty; any other read failure
    propagates (swallowing it would silently drop the whole store
    from this batch's candidate generation; r5 review finding)."""
    import os

    if not os.path.isdir(path):
        return local_frame(spark, [], schema)
    df = spark.read.parquet(path)
    if exclude_epoch is not None and "epoch" in df.columns:
        df = df.where(F.col("epoch") != exclude_epoch)
    return df.drop("epoch")


def incdedup_process_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    epoch: int,
    src: str,
    store_dir: str,
    results_dir: str,
) -> None:
    """One micro-batch of the streaming incremental dedup.

    Replay idempotency (r4 ADVICE): both side-effect writes are keyed
    by the checkpointed epoch id and OVERWRITE their own
    ``epoch=<id>`` directory — a batch replayed after a crash between
    the two writes (or between write and checkpoint commit) lands on
    the same directories with the same deterministic content instead
    of appending duplicate pairs/signatures. The same contract the
    lance streaming sink gives via its per-txn commit.
    Asserted by replaying an epoch in tests/test_streaming.py."""
    from ..operators.dedup import (
        _band_hashes,
        _minhash_signatures,
        _shingle_df,
        verify_candidate_pairs,
    )

    import os

    # localCheckpoint is acceptable HERE (unlike the batch operators,
    # r6 VERDICT item 3): the frame is one micro-batch's band hashes
    # — tiny, and cheap to lose. If an executor dies and the blocks
    # vanish, the STREAMING runtime retries the whole micro-batch
    # from the checkpointed offsets, regenerating them; no durable
    # state depends on these blocks outliving the batch.
    bands = _band_hashes(
        _minhash_signatures(_shingle_df(batch_df))
    ).localCheckpoint()  # avoids recomputing the batch 3x
    stored = _read_epoch_store(
        spark, store_dir, _BAND_SCHEMA, exclude_epoch=epoch
    )
    all_bands = stored.unionByName(bands)
    cand = (
        all_bands.select(
            F.col("doc_id").alias("doc_a"), "band_idx", "band_hash"
        )
        .join(
            bands.select(
                F.col("doc_id").alias("doc_b"), "band_idx", "band_hash"
            ),
            ["band_idx", "band_hash"],
        )
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # verify against the corpus committed SO FAR (the stream
    # source's current snapshot contains every candidate doc).
    # shingled is passed EXPLICITLY (lazy, unspilled): the batch
    # operators' default shingle spill amortizes across one query,
    # but here it would write the full snapshot's shingle table once
    # PER MICRO-BATCH — measured 70s vs 32s at sf1 (r8); the lazy
    # 3x recompute is the cheaper trade under a per-batch loop.
    snapshot = spark.read.format("lance").load(src)
    verify_candidate_pairs(
        cand, snapshot, shingled=_shingle_df(snapshot)
    ).write.mode("overwrite").parquet(
        os.path.join(results_dir, f"epoch={epoch}")
    )
    bands.write.mode("overwrite").parquet(
        os.path.join(store_dir, f"epoch={epoch}")
    )


def stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7: streaming MinHash dedup against a growing signature
    store — the production ingestion pipeline as a STREAM. Documents
    arrive in doc_id-ordered slices through the lance stream source;
    ``foreachBatch`` computes band signatures for the batch only,
    equi-joins them against the persisted store (plus the batch
    itself for within-batch pairs), verifies candidates with exact
    Jaccard, appends confirmed pairs to a results table and the
    batch's signatures to the store. Per-batch cost is
    O(batch + collisions) — the base corpus is never recomputed.

    Completeness invariant (what the oracle checks): every dup pair
    (a < b) is discovered in exactly the micro-batch where ``b``
    arrives — ``a`` is then either in the store (earlier slice) or
    in the same batch — so the union of per-batch results equals
    the FULL-corpus dedup_minhash_lsh pair set, hash-exact."""
    import os
    import shutil

    from ..operators.dedup import (
        _band_hashes,
        _minhash_signatures,
        _shingle_df,
        verify_candidate_pairs,
    )
    from ..sources.datasource import register

    register(spark)
    src = _fresh_stream_root(sf_dir, "incdedup")
    work = src + ".work"
    shutil.rmtree(work, ignore_errors=True)
    store_dir = os.path.join(work, "sigstore")
    results_dir = os.path.join(work, "pairs")

    docs = load(spark, sf_dir, "documents")
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    if lo is None:
        # empty corpus: no batches to run (the arithmetic below
        # would TypeError on None — r8 review finding)
        return local_frame(
            spark, [], "doc_a long, doc_b long, jaccard double"
        )
    step = (hi - lo) // 3 + 1
    slices = [
        docs.where(
            (F.col("doc_id") >= lo + i * step)
            & (F.col("doc_id") < lo + (i + 1) * step)
        )
        for i in range(3)
    ]

    def process(batch_df, epoch):
        incdedup_process_batch(
            spark, batch_df, epoch, src, store_dir, results_dir
        )

    # TWO availableNow passes — slice 1 alone, then slices 2+3 (r8
    # VERDICT item 6): the pass boundary still proves the store path
    # (pass-2 docs hit pass-1 signatures via the persisted store),
    # and pairs between slices 2 and 3 dedupe within the batch. The
    # completeness invariant is batching-independent: a pair (a < b)
    # is discovered in whichever batch b arrives.
    for gi, group in enumerate(([slices[0]], slices[1:])):
        for j, part in enumerate(group):
            mode = "overwrite" if gi == 0 and j == 0 else "append"
            part.write.format("lance").mode(mode).save(src)
        q = (
            spark.readStream.format("lance")
            .load(src)
            .writeStream.foreachBatch(process)
            .option("checkpointLocation", src + ".ckpt")
            .trigger(availableNow=True)
            .start()
        )
        _await_or_raise(q)

    if not os.path.isdir(results_dir):  # empty corpus: no batches ran
        return local_frame(
            spark, [], "doc_a long, doc_b long, jaccard double"
        )
    return (
        spark.read.parquet(results_dir)
        .drop("epoch")
        .orderBy("doc_a", "doc_b")
    )


def contagg_process_batch(batch_df: DataFrame, epoch: int, store: str) -> None:
    """One micro-batch of the stream-maintained rollup: per-(hour,
    event_type) decimal partials, written OVERWRITE into this epoch's
    own ``epoch=<id>`` directory (day-partitioned inside it) so a
    checkpoint-replayed batch lands idempotently instead of
    double-appending partials (r4 ADVICE). Day-partition pruning
    still works on read: ``day_idx=`` dirs nest under every epoch and
    Spark prunes them across epochs."""
    import os

    from ..operators.common import money
    from ..tables import US_PER_HOUR

    (
        batch_df.select(
            F.expr(f"ts_us DIV {US_PER_HOUR}").alias("hour_idx"),
            "event_type",
            money("value").alias("v"),
        )
        .groupBy("hour_idx", "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sum_v"))
        .withColumn("day_idx", F.expr("hour_idx DIV 24"))
        # one writer per day partition (the repo-wide partitionBy
        # discipline — every other bucketed write repartitions first)
        .repartition("day_idx")
        .write.mode("overwrite")
        .partitionBy("day_idx")
        .parquet(os.path.join(store, f"epoch={epoch}"))
    )


def stream_continuous_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8: the continuous-aggregate rollup store MAINTAINED BY A
    STREAM — events arrive in event-time slices through the lance
    stream source; ``foreachBatch`` aggregates each micro-batch to
    (hour, event_type) partials and appends them to the rollup
    store. Partials are decimal sums + bigint counts, so appending
    per-batch partials and re-aggregating is EXACT regardless of how
    micro-batches split an hour (the same associativity argument as
    operators/timeseries.py — no upsert needed, append-only).

    The final last-7-days daily summary over the stream-built store
    must hash-match the oracle's direct aggregation over raw events
    — proving the streamed store lost nothing at any batch boundary.
    Per-batch cost is O(batch); the store grows by O(active hours)."""
    import shutil

    from ..sources.datasource import register

    register(spark)
    src = _fresh_stream_root(sf_dir, "contagg")
    store = src + ".store"
    shutil.rmtree(store, ignore_errors=True)

    def process(batch_df, epoch):
        contagg_process_batch(batch_df, epoch, store)

    ev = load(spark, sf_dir, "events")
    for i, part in enumerate(_time_splits(ev)):
        mode = "overwrite" if i == 0 else "append"
        part.coalesce(1).write.format("lance").mode(mode).save(src)
        q = (
            spark.readStream.format("lance")
            .load(src)
            .writeStream.foreachBatch(process)
            .option("checkpointLocation", src + ".ckpt")
            .trigger(availableNow=True)
            .start()
        )
        _await_or_raise(q)

    if not os.path.isdir(store):  # empty stream: no batches ran
        from ..operators.timeseries import DAILY_SUMMARY_SCHEMA

        return local_frame(spark, [], DAILY_SUMMARY_SCHEMA)
    rolled = spark.read.parquet(store).drop("epoch")
    # literal cutoff (bounded 1-row collect): day-partition pruning
    # on the store needs a literal, a join-derived filter can't prune
    max_h = rolled.agg(F.max("hour_idx").alias("max_h")).first()["max_h"]
    if max_h is None:  # empty stream: honest empty summary, no crash
        from ..operators.timeseries import DAILY_SUMMARY_SCHEMA

        return local_frame(spark, [], DAILY_SUMMARY_SCHEMA)
    return (
        rolled.where(F.col("day_idx") >= (max_h - 168) // 24)
        .where(F.col("hour_idx") > max_h - 168)
        .withColumn(
            "d",
            F.date_add(
                F.lit("1970-01-01"), F.expr("CAST(hour_idx DIV 24 AS INT)")
            ),
        )
        .groupBy("d", "event_type")
        .agg(
            F.sum("n").cast("bigint").alias("n_events"),
            F.sum("sum_v").cast("double").alias("sum_value"),
        )
        .orderBy("d", "event_type")
    )


def stream_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D9: streaming VECTOR-INDEX maintenance — the production ingest
    loop for a 100 TB embedding store. Embeddings arrive as a lance
    stream; every micro-batch is committed by the exactly-once lance
    streaming sink, and after each sink pass the IVF index catches up
    to the dataset head with ``extend_ivf_index`` — an O(appended
    rows) bucket-partitioned postings DELTA against the frozen
    k-means fit (sources/vector_index.py:890), never an O(corpus)
    rebuild. Search over base + deltas stays partition-pruned to
    nprobe/k of the postings.

    Staging mirrors stream_sink_roundtrip: the Python DS stream
    source has no AvailableNow, so arrivals are staged split-by-split
    against one checkpoint — identical to live micro-batches. The
    index is built on the BULK (the first two thirds — the realistic
    shape: an index is fitted over the existing corpus, a stream
    appends the increment); its k-means never sees the streamed
    rows, so centroid drift is the documented cost of delta
    maintenance, repaid by periodic rebuilds (measured: recall@10
    0.90/0.86 at sf0.001/0.01 with a 1/3 streamed fraction at
    nprobe=6, vs 0.93 for the all-batch ann_ivf_indexed).

    Hash discipline: the streamed-into index's search output is
    deterministic but its k-means centroids aren't SQL-replicable, so
    the hashed rows are the exact brute-force top-k plus a constant
    ``ingest_recall_ok`` flag (recall of the delta-served search vs
    exact >= INGEST_RECALL_BOUND), the ann_ivf_indexed pattern.
    tests/test_stream_index_ingest.py additionally asserts >= 2
    postings deltas were really published and pins tighter recall."""
    from ..operators.similarity import (
        IVF_K,
        N_PROBES,
        TOP_K,
        _with_recall_flag,
        ann_topk_bruteforce,
    )
    from ..sources.datasource import register
    from ..sources.vector_index import (
        ann_search,
        build_ivf_index,
        extend_ivf_index,
        read_index_meta,
    )

    register(spark)
    src = _fresh_stream_root(sf_dir, "ingestsrc")
    dst = _fresh_stream_root(sf_dir, "ingestdst")
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    # contiguous vec_id ranges stand in for arrival order: the bulk
    # (first 2/3) seeds the index, two streamed sixths extend it
    lo, hi = emb.agg(F.min("vec_id"), F.max("vec_id")).first()
    if lo is None:
        return local_frame(
            spark,
            [],
            "probe_id long, neighbor_id long, cos_sim double, "
            "rnk int, ingest_recall_ok boolean",
        )
    cuts = _cuts(lo, hi)
    splits = [
        emb.where(
            (F.col("vec_id") >= cuts[i]) & (F.col("vec_id") < cuts[i + 1])
        )
        for i in range(3)
    ]

    # the bulk is the EXISTING corpus: it lands as a plain batch
    # write and gets indexed once — only the increments stream (r8
    # VERDICT item 6: streaming the bulk through its own query start
    # bought nothing but the start's fixed cost; an index is fitted
    # over data that is already a table)
    splits[0].write.format("lance").mode("overwrite").save(dst)
    build_ivf_index(spark, dst, k=IVF_K, lloyd_iters=2)
    for i, part in enumerate(splits[1:]):
        mode = "overwrite" if i == 0 else "append"
        part.write.format("lance").mode(mode).save(src)
        q = (
            spark.readStream.format("lance")
            .load(src)
            .writeStream.format("lance")
            .option("checkpointLocation", dst + ".ckpt")
            .option("txnappid", "index_ingest")
            .trigger(availableNow=True)
            .start(dst)
        )
        _await_or_raise(q)
        # every sink pass is chased by an O(appended rows) delta —
        # the maintenance cost a stream can afford
        extend_ivf_index(spark, dst)

    meta = read_index_meta(dst)
    if len(meta.get("delta_dirs", [])) < 2:  # both passes must have indexed
        raise RuntimeError(
            f"stream_index_ingest published {meta} — expected >=2 postings "
            "deltas (one per streamed split); an extend pass was skipped"
        )
    probes = emb.where(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    # nprobe 8 (vs the all-batch index's 6) + a drift-adjusted bound:
    # the streamed rows were bucketed by centroids that never saw
    # them, costing a few recall points (measured 0.86-0.92 at
    # nprobe=8 across sf0.001-0.01 vs 0.93 all-batch) — the honest
    # price of O(append) maintenance until the next rebuild
    approx = ann_search(spark, dst, probes, k_neighbors=TOP_K, nprobe=8)
    exact = ann_topk_bruteforce(spark, sf_dir)
    return _with_recall_flag(
        exact, approx, INGEST_RECALL_BOUND, "ingest_recall_ok"
    ).orderBy("probe_id", "rnk")


def stream_fts_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D10: streaming FULL-TEXT index maintenance — the BM25 twin of
    the vector ingest loop (D9). Documents arrive as a lance stream;
    every micro-batch is committed by the exactly-once lance sink,
    and after each sink pass the inverted index catches up via
    ``extend_fts_index`` — an O(appended docs) postings delta plus an
    O(distinct terms) df/stats generation, all published through ONE
    atomic ``_meta.json`` replace (operators/fts.py, r8 layout), so a
    reader racing the stream always scores a consistent snapshot.
    The maintained docs are read back from the SUNK dataset, not the
    source frame — the index serves exactly what the table committed.

    Staging mirrors stream_sink_roundtrip: the Python DS stream
    source has no AvailableNow, so arrivals stage split-by-split
    against one checkpoint — identical to live micro-batches. The
    bulk (first two thirds) builds the index; ONE streamed third
    extends it (r9 VERDICT item 5 folded the two streamed sixths
    into one pass — each extra pass pays a full stream-engine start
    plus an extend generation; the multi-generation extend
    discipline stays demonstrated by fts_bm25_incremental, which
    runs two extend passes over the same helper).

    Unlike the vector ingest, FTS maintenance is EXACT — per-doc
    postings never change and df/stats merge losslessly, so the
    extended index is bit-identical to a full rebuild and the search
    result shares fts_bm25's full-corpus oracle with NO quality flag
    (the strongest hash discipline a streamed index can offer)."""
    import shutil as _shutil

    from ..operators.fts import (
        QUERY_TERMS,
        _read_fts_meta,
        build_fts_index,
        extend_fts_index,
        search_bm25,
    )
    from ..sources.datasource import register

    register(spark)
    src = _fresh_stream_root(sf_dir, "ftsingestsrc")
    dst = _fresh_stream_root(sf_dir, "ftsingestdst")
    index_dir = dst + ".ftsidx"
    _shutil.rmtree(index_dir, ignore_errors=True)
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    if lo is None:
        return local_frame(
            spark, [], "doc_id long, n_terms long, score double"
        )
    cuts = _cuts(lo, hi)

    # the bulk is the EXISTING corpus: a plain batch write + one
    # index build — only the increments stream (r8 VERDICT item 6,
    # same rationale as stream_index_ingest)
    docs.where(
        (F.col("doc_id") >= cuts[0]) & (F.col("doc_id") < cuts[1])
    ).write.format("lance").mode("overwrite").save(dst)
    # committed-rows reads go through the NATIVE parquet live view
    # (catalog._native_live_df): the index maintenance scans full
    # document text, and the vectorized JVM scan avoids shuttling
    # every text through Python workers (r9 VERDICT item 5 — the
    # sf1 fixed-cost residual). Same rows as the lance DS read.
    from ..catalog import _native_live_df

    build_fts_index(
        spark,
        _native_live_df(spark, dst).where(
            (F.col("doc_id") >= cuts[0]) & (F.col("doc_id") < cuts[1])
        ),
        index_dir,
    )
    part = docs.where(
        (F.col("doc_id") >= cuts[1]) & (F.col("doc_id") < cuts[3])
    )
    part.write.format("lance").mode("overwrite").save(src)
    q = (
        spark.readStream.format("lance")
        .load(src)
        .writeStream.format("lance")
        .option("checkpointLocation", dst + ".ckpt")
        .option("txnappid", "fts_ingest")
        .trigger(availableNow=True)
        .start(dst)
    )
    _await_or_raise(q)
    # maintain the index from what the table COMMITTED this pass
    # (native live view — same committed rows, vectorized scan)
    extend_fts_index(
        spark,
        index_dir,
        _native_live_df(spark, dst).where(
            (F.col("doc_id") >= cuts[1]) & (F.col("doc_id") < cuts[3])
        ),
    )

    meta = _read_fts_meta(index_dir)
    if meta["version"] != 1 or len(meta.get("postings_dirs", [])) != 2:
        raise RuntimeError(
            f"stream_fts_ingest published {meta} — expected one extend "
            "generation (version 1) over two posting dirs"
        )
    return search_bm25(spark, index_dir, list(QUERY_TERMS))


QUERIES = {
    "stream_windowed_counts": batch_windowed_counts,
    "session_window_native": session_window_native,
    "stream_sessionization": stream_sessionization,
    "stream_sink_roundtrip": stream_sink_roundtrip,
    "stream_dedup": stream_dedup,
    "stream_stream_join": stream_stream_join,
    "stream_incremental_dedup": stream_incremental_dedup,
    "stream_continuous_aggregate": stream_continuous_aggregate,
    "stream_index_ingest": stream_index_ingest,
    "stream_fts_ingest": stream_fts_ingest,
}

from ..operators.dedup import DEDUP_MINHASH_SQL as _FULL_MINHASH_SQL  # noqa: E402
from ..operators.timeseries import (  # noqa: E402
    CONTINUOUS_AGGREGATE_SQL as _CONT_AGG_SQL,
)

from ..operators.similarity import _topk_flag_sql as _flag_sql  # noqa: E402

from ..operators.fts import FTS_BM25_SQL as _FTS_SQL  # noqa: E402

ORACLE = {
    # the streaming union must equal the FULL-corpus minhash dedup
    "stream_incremental_dedup": _FULL_MINHASH_SQL,
    # FTS maintenance is exact: the streamed-into index must serve
    # the full-corpus BM25 answer bit-for-bit, no quality flag
    "stream_fts_ingest": _FTS_SQL,
    # exact top-k + literal-TRUE recall flag (ann_ivf_indexed pattern)
    "stream_index_ingest": _flag_sql("ingest_recall_ok"),
    # the stream-built rollup must serve the same answers as a
    # direct aggregation over raw events
    "stream_continuous_aggregate": _CONT_AGG_SQL,
    "stream_windowed_counts": BATCH_WINDOWED_COUNTS_SQL,
    "session_window_native": SESSION_WINDOW_NATIVE_SQL,
    "stream_sessionization": STREAM_SESSIONIZATION_SQL,
    "stream_sink_roundtrip": STREAM_SINK_ROUNDTRIP_SQL,
    "stream_dedup": STREAM_DEDUP_SQL,
    "stream_stream_join": STREAM_STREAM_JOIN_SQL,
}
