"""Batch-mode equivalents of the streaming operators (SURVEY.md §2.B
"Streaming operators").

The reference has no streaming at all (SURVEY.md §1.1) — these are the
mandated extension surface. Each stateful operator is validated here in
batch form against the DuckDB oracle; jsmr_spark/streaming/core.py runs
the same logic under Structured Streaming (file source, watermarks,
micro-batch replay) and tests assert batch/stream equivalence.

Semantics pinned:
  * tumbling/sliding windows are epoch-aligned (Spark window() and
    DuckDB time_bucket agree for sub-day widths);
  * session windows use gap=10min, end = last_event + gap (Spark
    session_window semantics; oracle reproduces it gaps-and-islands);
  * event values are fixed 2dp (verified) — sums use exact cents.

Scale notes: all keys shuffle on (window/user) — high cardinality,
unskewed. Sessionization is the same one-exchange-one-sort shape as
the window module; in streaming the state store holds only open
sessions per user and the watermark bounds it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jsmr_spark.compat import cents, sql_cents
from jsmr_spark.queries.common import t
from jsmr_spark.queries.shared_sql import (
    RANGE_JOIN_ORACLE,
    SESSION_GAP_MINUTES,
    SESSION_ISLANDS_CTE,
)
from jsmr_spark.registry import query

_VAL_C = sql_cents("value")


@query(
    "q_stream_tumbling",
    f"""
    SELECT time_bucket(INTERVAL 1 hour, ts) AS window_start,
           time_bucket(INTERVAL 1 hour, ts) + INTERVAL 1 hour AS window_end,
           event_type,
           count(*) AS n,
           sum({_VAL_C}) / 100.0::DOUBLE AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling window counts/sums per event type."""
    return (
        t(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(cents(F.col("value"))) / 100.0).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@query(
    "q_stream_sliding",
    f"""
    WITH assigned AS (
      SELECT time_bucket(INTERVAL 30 minutes, ts) AS ws, event_type, value FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL 30 minutes, ts) - INTERVAL 30 minutes AS ws, event_type, value
      FROM events
    )
    SELECT ws AS window_start, ws + INTERVAL 1 hour AS window_end, event_type,
           count(*) AS n, sum({_VAL_C}) / 100.0::DOUBLE AS sum_value
    FROM assigned
    GROUP BY 1, 2, 3
    """,
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 30 minutes (each event lands in two
    windows; the oracle reproduces Spark's expansion with two shifted
    tumbling assignments)."""
    return (
        t(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(cents(F.col("value"))) / 100.0).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@query(
    "q_stream_session",
    f"""
    WITH {SESSION_ISLANDS_CTE}
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL {SESSION_GAP_MINUTES} minutes AS session_end,
           count(*) AS n_events,
           sum({_VAL_C}) / 100.0::DOUBLE AS session_value
    FROM numbered
    GROUP BY user_id, sid
    """,
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 10-minute inactivity gap
    (session_window; oracle = gaps-and-islands). Session end is
    last_event + gap, matching Spark's definition."""
    return (
        t(spark, sf_dir, "events")
        .groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(cents(F.col("value"))) / 100.0).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


@query(
    "q_stream_dedup",
    """
    SELECT DISTINCT event_id, user_id, event_type, ts
    FROM (SELECT * FROM events UNION ALL SELECT * FROM events)
    """,
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once by event_id over a doubled (at-least-once) input —
    the batch twin of withWatermark + dropDuplicates."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.unionByName(ev)
        .dropDuplicates(["event_id"])
        .select("event_id", "user_id", "event_type", "ts")
    )


@query(
    "q_stream_funnel",
    """
    SELECT user_id,
           count(CASE WHEN event_type = 'view' THEN 1 END) AS n_views,
           count(CASE WHEN event_type = 'click' THEN 1 END) AS n_clicks,
           count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases,
           min(CASE WHEN event_type = 'view' THEN ts END) AS first_view_ts,
           min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase_ts,
           (min(CASE WHEN event_type = 'view' THEN ts END) IS NOT NULL
            AND min(CASE WHEN event_type = 'purchase' THEN ts END) IS NOT NULL
            AND min(CASE WHEN event_type = 'view' THEN ts END)
                < min(CASE WHEN event_type = 'purchase' THEN ts END)) AS converted
    FROM events
    GROUP BY user_id
    """,
)
def q_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view -> purchase funnel per user via conditional aggregation."""
    is_view = F.when(F.col("event_type") == "view", F.lit(1))
    first_view = F.min(F.when(F.col("event_type") == "view", F.col("ts")))
    first_purchase = F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
    return (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(is_view).alias("n_views"),
            F.count(F.when(F.col("event_type") == "click", F.lit(1))).alias("n_clicks"),
            F.count(F.when(F.col("event_type") == "purchase", F.lit(1))).alias("n_purchases"),
            first_view.alias("first_view_ts"),
            first_purchase.alias("first_purchase_ts"),
            (
                first_view.isNotNull()
                & first_purchase.isNotNull()
                & (first_view < first_purchase)
            ).alias("converted"),
        )
    )


@query("stream_watermark_late", None)  # watermark drop is not batch-expressible => rows-only
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True Structured Streaming run: replay events through a file
    source in timestamp order with a deliberately late tail, 10-minute
    watermark + 1-hour tumbling counts; late rows beyond the watermark
    are dropped by the state store. See jsmr_spark/streaming/core.py."""
    from jsmr_spark.streaming.core import run_watermark_late_replay

    return run_watermark_late_replay(spark, sf_dir)


@query(
    "stream_stateful_counter",
    f"""
    SELECT user_id,
           count(*) AS n_events,
           sum({_VAL_C}) / 100.0::DOUBLE AS spend
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    cumulative per-user event count + exact cents spend, state in the
    state store, update-mode emission per micro-batch (JsMr parity:
    arbitrary user reduce state, SURVEY.md §2.A A11). Returns the final
    per-user totals of the replay — VALUE-CHECKED: with a closed input
    the converged state store must equal the batch aggregate the oracle
    computes directly from events (exact integer cents in the worker,
    same tie-free rounding), so lost state, a dropped micro-batch, or
    double-counted redelivery fails the hash. See
    jsmr_spark/streaming/core.py."""
    from jsmr_spark.streaming.core import run_stateful_counter_stream

    # The memory sink holds one row per (user, micro-batch) in update
    # mode; the LAST batch's row per user is the final total.
    raw = run_stateful_counter_stream(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        raw.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "spend")
    )


@query(
    "q_rollup_chain",
    f"""
    WITH hourly AS (
      SELECT time_bucket(INTERVAL 1 hour, ts) AS h, event_type,
             count(*) AS n, sum({_VAL_C}) AS cents
      FROM events GROUP BY 1, 2
    )
    SELECT CAST(time_bucket(INTERVAL 1 day, h) AS TIMESTAMP) AS day,
           event_type,
           CAST(sum(n) AS BIGINT) AS n,
           sum(cents) / 100.0::DOUBLE AS sum_value,
           count(*) AS n_hours
    FROM hourly GROUP BY 1, 2
    """,
)
def q_rollup_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup chain (JsMr job chaining, SURVEY.md §2.A A8):
    daily aggregates computed FROM the hourly partials, never from raw
    events — counts and cent-sums re-aggregate losslessly, and n_hours
    proves the second stage saw partials, not rows. At 100 TB this is
    the materialized-rollup pattern: the hourly table is ~10^4x smaller
    than the events it summarizes, so every coarser granularity
    (day/week/month) is a cheap re-aggregation of the tier below. The
    oracle runs the same two-level chain as a CTE."""
    hourly = (
        t(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents(F.col("value"))).alias("cents"),
        )
        .select(F.col("w.start").alias("h"), "event_type", "n", "cents")
    )
    return (
        hourly.groupBy(F.date_trunc("day", F.col("h")).alias("day"), "event_type")
        .agg(
            F.sum("n").alias("n"),
            (F.sum("cents") / 100.0).alias("sum_value"),
            F.count(F.lit(1)).alias("n_hours"),
        )
    )


@query(
    "stream_rate_source",
    """
    SELECT CAST(v % 50 AS BIGINT) AS user_key,
           count(*) AS n,
           CAST(sum(v) AS BIGINT) AS sum_value
    FROM (SELECT unnest(range(0, 5000)) AS v)
    GROUP BY user_key
    """,
)
def stream_rate_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True UNBOUNDED streaming source (rate-micro-batch, not a file
    replay): continuous deterministic ingest, complete-mode aggregation,
    explicit stop once the target prefix has arrived — the closest this
    sandbox gets to the Kafka topology (same query graph; only the
    source string changes). Oracle-checkable because the source's value
    column is a deterministic counter: the oracle recomputes the same
    aggregate from range(0, N). See
    jsmr_spark/streaming/core.py:run_rate_source_stream."""
    from jsmr_spark.streaming.core import run_rate_source_stream

    return run_rate_source_stream(spark)


@query("stream_join_static", None)  # append-mode watermark emission => rows-only
def stream_join_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True Structured Streaming stream-static join: the replayed event
    stream is enriched against a broadcast customer dimension inside
    the streaming query, then windowed per market segment (see
    jsmr_spark/streaming/core.py:run_stream_static_join). The static
    side re-broadcasts per micro-batch — the standard dimension-
    enrichment topology."""
    from jsmr_spark.streaming.core import run_stream_static_join

    return run_stream_static_join(spark, sf_dir)


@query(
    "stream_exactly_once_sink",
    f"""
    SELECT user_id,
           count(*) AS n_events,
           sum({_VAL_C}) / 100.0::DOUBLE AS spend
    FROM events GROUP BY user_id
    """,
)
def stream_exactly_once_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once file sink under an INJECTED mid-stream sink failure
    (the at-least-once redelivery case the other streaming keys never
    force): foreachBatch publishes each micro-batch to a batchId-keyed
    directory via write-tmp + atomic rename; incarnation 1 crashes
    after batch 2's publish but before its streaming commit; the
    restart re-delivers batch 2 and the idempotent sink skips it. The
    re-read of the final sink directories per user must equal the batch
    aggregate over events — a duplicated batch 2 (non-idempotent sink)
    or a lost batch (broken recovery) fails the hash. The harness also
    asserts the injected failure and the redelivery skip both actually
    happened. See jsmr_spark/streaming/core.py:
    run_exactly_once_sink_stream for the full contract discussion."""
    from jsmr_spark.streaming.core import run_exactly_once_sink_stream

    df, evidence = run_exactly_once_sink_stream(spark, sf_dir)
    assert evidence["failed_injected"], "failure injection never fired"
    assert 2 in evidence["skipped_batches"], (
        f"batch 2 was not redelivered+skipped: {evidence}"
    )
    return df


_ORD_SQL_EV = (
    "lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || '#' || "
    "lpad(CAST(event_id AS VARCHAR), 12, '0')"
)


@query(
    "stream_cdc_apply",
    f"""
    SELECT user_id, event_type,
           max_by({sql_cents("value")}, {_ORD_SQL_EV}) / 100.0::DOUBLE AS last_value,
           count(*) AS n_updates
    FROM events GROUP BY user_id, event_type
    """,
)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC table maintenance: the event stream is applied to
    a keyed table one micro-batch at a time (foreachBatch full-outer
    MERGE with newest-ord-wins semantics and an atomic version swap —
    the lakehouse MERGE INTO loop). The FINAL table must equal the
    batch "latest value + update count per (user_id, event_type)"
    aggregate the oracle computes directly over events — a lost batch,
    a stale-version read, or wrong merge precedence all fail the hash.
    The streaming twin of q_upsert_merge (one-shot CDC apply) and
    q_dedup_latest (read-side latest-wins). See jsmr_spark/streaming/
    core.py: run_cdc_apply_stream."""
    from jsmr_spark.streaming.core import run_cdc_apply_stream

    return run_cdc_apply_stream(spark, sf_dir)


@query(
    "stream_python_source",
    """
    SELECT CAST(range % 20 AS BIGINT) AS user_key,
           count(*) AS n,
           CAST(sum(range) AS BIGINT) AS sum_v
    FROM range(0, 5000)
    GROUP BY 1
    """,
)
def stream_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded ingest through a USER-DEFINED Python streaming
    connector (DataSourceStreamReader: real offset management, per-batch
    partition planning, commit acks — the plug-in surface for systems
    with no JVM connector; see jsmr_spark/streaming/core.py:
    run_python_stream_source). The deterministic counter sequence makes
    the converged complete-mode aggregate closed-form: the oracle
    recomputes it from range(); skipped/duplicated batches or
    overlapping partition plans fail the hash. Batch twin of
    stream_rate_source, with the connector itself under our control."""
    from jsmr_spark.streaming.core import run_python_stream_source

    return run_python_stream_source(spark)


@query(
    "stream_ewma",
    f"""
    WITH o AS (
      SELECT user_id, event_id, ts, {_VAL_C} AS vc,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    last AS (SELECT user_id, max(rn) AS mrn FROM o GROUP BY user_id)
    SELECT a.user_id,
           CAST(count(*) AS INTEGER) AS n_win,
           round(CAST(sum(b.vc * (CAST(1 AS BIGINT) << (19 - (a.rn - b.rn)))) AS DOUBLE)
                 / CAST((CAST(1 AS BIGINT) << 20)
                        - (CAST(1 AS BIGINT) << (20 - CAST(count(*) AS INTEGER))) AS DOUBLE)
                 / 100.0, 4) AS ewma
    FROM o a
    JOIN last l ON l.user_id = a.user_id AND a.rn = l.mrn
    JOIN o b ON b.user_id = a.user_id AND b.rn BETWEEN a.rn - 19 AND a.rn
    GROUP BY a.user_id, a.rn
    """,
)
def stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming rolling EWMA: the q_ts_ewma recurrence as a custom
    applyInPandasWithState operator (state = last K=20 cents values per
    user, bounded by K not history), replayed through ordered file
    chunks. VALUE-CHECKED: the converged stream state must equal the
    batch window's value at each user's LAST event — the oracle
    computes exactly that with the same power-of-two integer algebra,
    so a lost micro-batch, mis-ordered state update, or drifted
    arithmetic fails the hash. See streaming/core.py run_ewma_stream."""
    from jsmr_spark.streaming.core import run_ewma_stream

    raw = run_ewma_stream(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.desc("n_total"))
    return (
        raw.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_win", "ewma")
    )


STREAM_TOPK_K = 3


@query(
    "q_stream_topk",
    f"""
    WITH agg AS (
      SELECT time_bucket(INTERVAL 1 hour, ts) AS window_start,
             user_id, count(*) AS n, sum({_VAL_C}) AS spend_cents
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT *, row_number() OVER (
               PARTITION BY window_start
               ORDER BY spend_cents DESC, user_id) AS rnk
      FROM agg
    )
    SELECT window_start, CAST(rnk AS INTEGER) AS rnk, user_id, n,
           CAST(spend_cents AS BIGINT) / 100.0::DOUBLE AS spend
    FROM r WHERE rnk <= {STREAM_TOPK_K}
    """,
)
def q_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed top-N: the top-{STREAM_TOPK_K} users by exact cents
    spend inside every 1-hour tumbling window (the Flink-style
    "streaming top-N" shape). Batch form is oracle-checked here; the
    streaming twin (jsmr_spark/streaming/core.py run_window_topk_stream,
    pinned by tests/test_streaming.py) runs the SAME windowed aggregate
    under a watermark in append mode and ranks the watermark-closed
    emissions — aggregation is the streaming-stateful part, the rank is
    a per-window O(k) pass over closed windows only.

    Scale shape: one keyed shuffle on (window, user) with map-side
    partials, then a per-window rank whose partitions are bounded by
    users-per-hour; ties break on user_id so top-N is a total order.
    Spend sums in exact integer cents (sql_cents twin), divided once
    by 100.0 — a single correctly-rounded IEEE op on both engines."""
    agg = (
        t(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents(F.col("value"))).alias("spend_cents"),
        )
    )
    rw = Window.partitionBy("w").orderBy(F.desc("spend_cents"), F.asc("user_id"))
    return (
        agg.withColumn("rnk", F.row_number().over(rw))
        .filter(F.col("rnk") <= STREAM_TOPK_K)
        .select(
            F.col("w.start").alias("window_start"),
            "rnk",
            "user_id",
            "n",
            (F.col("spend_cents") / 100.0).alias("spend"),
        )
    )


@query("stream_stream_join", RANGE_JOIN_ORACLE)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE stream-stream interval join, fully value-checked: views and
    clicks replay as two independent watermarked file streams joined on
    user_id with the 5-minute time bound (the batch twin is
    q_join_range, same oracle). Both sides buffer state; the watermark
    + time-range condition bounds eviction at v_ts + 5min. INNER-join
    emission is match-driven — not watermark-gated — so the closed
    replay emits every pair exactly once and the memory sink must
    hash-equal the batch join: a dropped buffered row, premature state
    eviction, or a double-emitted match fails the driver protocol.
    See jsmr_spark/streaming/core.py:run_stream_stream_join."""
    from jsmr_spark.streaming.core import run_stream_stream_join

    return run_stream_stream_join(spark, sf_dir)


@query("stream_stream_join_outer", None)  # null-extension boundary is watermark-timing-dependent => rows-only
def stream_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join — the watermark-subtle half of the
    two-stream surface (inner twin: stream_stream_join, hash-checked):
    matches emit as they pair, but a view with no click emits its
    null-extended row only once the watermark proves no qualifying
    click can still arrive, so the stream tail stays buffered at
    shutdown and the null boundary is watermark-timing-dependent —
    hence rows-only at the driver. tests/test_streaming.py pins the
    decidable parts exactly: matched rows equal the batch inner join,
    every null row is a true batch anti-join member, and null coverage
    reaches the anti-join set minus the final-watermark tail."""
    from jsmr_spark.streaming.core import run_stream_stream_join_outer

    return run_stream_stream_join_outer(spark, sf_dir)


@query(
    "stream_dedup_within_wm",
    """
    SELECT DISTINCT event_id, user_id, event_type, ts
    FROM (SELECT * FROM events UNION ALL SELECT * FROM events)
    """,
)
def stream_dedup_within_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark replay over doubled chunks — the
    state-bounded exactly-once dedup (state evicted at watermark + delay
    instead of living forever per key). Closed-input output equals the
    batch distinct, so the driver hash pins both the dedup and the
    no-late-reemission guarantee. See streaming/core.py:
    run_dedup_within_wm_stream for the eviction argument."""
    from jsmr_spark.streaming.core import run_dedup_within_wm_stream

    return run_dedup_within_wm_stream(spark, sf_dir)


@query(
    "stream_python_sink",
    f"""
    SELECT event_type, count(*) AS n,
           CAST(sum({_VAL_C}) AS BIGINT) AS sum_cents
    FROM events GROUP BY event_type
    """,
)
def stream_python_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined Python STREAMING SINK (Spark 4 DataSource
    streamWriter) — the outbound twin of stream_python_source: events
    replay through chunked micro-batches into a custom TSV connector
    whose per-batch manifest commit is IDEMPOTENT on batchId, so a
    replayed batch can never double its rows. The read-back goes
    through the manifests only, and the per-type aggregate is
    hash-checked against the batch truth — a lost part file, a
    double-committed batch, or rows leaking outside the manifest all
    fail the hash. See jsmr_spark/pyds.py:TsvStreamSinkDataSource and
    jsmr_spark/streaming/core.py:run_python_sink_stream."""
    from jsmr_spark.streaming.core import run_python_sink_stream

    return run_python_sink_stream(spark, sf_dir)
