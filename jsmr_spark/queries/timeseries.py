"""Rolling time-series analytics: truncated EWMA, z-score anomaly
flagging, rolling distinct users (DAU/WAU).

Three shapes every metrics/feature pipeline runs over an event stream,
each kept cross-engine exact by the repo's integer-first recipe
(compat.py): aggregate in exact integer cents, derive every double from
those integers through an IDENTICAL expression tree on both engines
(IEEE 754 +,-,*,/,sqrt are correctly rounded, so identical integer
inputs + identical expression shape = bit-identical doubles), and
round(,4) only for final presentation.

EWMA gets the strongest treatment: the weighted sum itself stays in
BIGINT by scaling the alpha=1/2 weights to powers of two, so the
rolling numerator/denominator are exact integers and the only float op
is one final division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jsmr_spark.compat import cents, r4, sql_cents
from jsmr_spark.queries.common import constants, t
from jsmr_spark.queries.dedup import hex12_sql
from jsmr_spark.registry import query

# EWMA window: alpha = 1/2 over the last K events. 2^-lag weights drop
# below 1e-6 of the total past lag 20, so the truncation IS the
# operator's definition here (both engines compute the same truncated
# sum — no "close enough" tail argument needed).
EWMA_K = 20


@query(
    "q_ts_ewma",
    f"""
    WITH o AS (
      SELECT user_id, event_id, ts, {sql_cents("value")} AS vc,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    )
    SELECT a.user_id, a.event_id,
           CAST(count(*) AS INTEGER) AS n_win,
           CAST(sum(b.vc * (CAST(1 AS BIGINT) << ({EWMA_K} - 1 - (a.rn - b.rn)))) AS BIGINT) AS ewma_num,
           (CAST(1 AS BIGINT) << {EWMA_K})
             - (CAST(1 AS BIGINT) << ({EWMA_K} - CAST(count(*) AS INTEGER))) AS ewma_den,
           round(CAST(sum(b.vc * (CAST(1 AS BIGINT) << ({EWMA_K} - 1 - (a.rn - b.rn)))) AS DOUBLE)
                 / CAST((CAST(1 AS BIGINT) << {EWMA_K})
                        - (CAST(1 AS BIGINT) << ({EWMA_K} - CAST(count(*) AS INTEGER))) AS DOUBLE)
                 / 100.0, 4) AS ewma
    FROM o a JOIN o b
      ON b.user_id = a.user_id AND b.rn BETWEEN a.rn - {EWMA_K - 1} AND a.rn
    GROUP BY a.user_id, a.event_id
    """,
)
def q_ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling exponentially-weighted moving average of event value per
    user (alpha = 1/2, truncated at the last K=20 events), emitted for
    every event.

    Exactness: with alpha = 1/2 the weights scale to powers of two, so
    num = sum(vc_i << (K-1-lag_i)) and den = 2^K - 2^(K-n) are exact
    BIGINTs (max ~5.5e10 at the fixture value range) and the only
    float op is the single final division — bit-identical on both
    engines. The oracle computes the same integers via a rank-band
    self-join; Spark computes them via a 20-row window collect_list +
    indexed HOF fold (one shuffle on user_id, no self-join).

    Shape at 100 TB: one keyed shuffle to sort each user's history,
    then a narrow 20-element fold per row. State is bounded by K, not
    history length — the same recurrence a streaming job would keep."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(EWMA_K - 1), 0)
    )
    return (
        t(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts", cents(F.col("value")).alias("vc"))
        .withColumn("arr", F.collect_list("vc").over(w))
        .withColumn("n_win", F.size("arr"))
        # arr is oldest..newest (frame order); element i has lag n-1-i,
        # so its scaled weight is 2^(K-1-(n-1-i)) = 2^(K-n) * 2^i:
        # fold sum(vc_i << i) once, then shift the whole sum by K-n.
        .withColumn(
            "inner",
            F.expr(
                "aggregate(transform(arr, (x, i) -> x * shiftleft(CAST(1 AS BIGINT), i)), "
                "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            ),
        )
        .select(
            "user_id",
            "event_id",
            "n_win",
            F.expr(f"shiftleft(inner, {EWMA_K} - n_win)").alias("ewma_num"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), {EWMA_K}) "
                f"- shiftleft(CAST(1 AS BIGINT), {EWMA_K} - n_win)"
            ).alias("ewma_den"),
        )
        .withColumn(
            "ewma",
            r4(
                F.col("ewma_num").cast("double")
                / F.col("ewma_den").cast("double")
                / F.lit(100.0)
            ),
        )
    )


@query(
    "q_ts_zscore",
    f"""
    WITH e AS (
      SELECT event_id, event_type, value, {sql_cents("value")} AS vc FROM events
    ),
    s AS (
      SELECT event_type, count(*) AS n, sum(vc) AS s1, sum(vc * vc) AS s2
      FROM e GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           round((CAST(e.vc AS DOUBLE)
                   - CAST(s.s1 AS DOUBLE) / CAST(s.n AS DOUBLE))
                 / sqrt(CAST(s.s2 AS DOUBLE) / CAST(s.n AS DOUBLE)
                        - (CAST(s.s1 AS DOUBLE) / CAST(s.n AS DOUBLE))
                          * (CAST(s.s1 AS DOUBLE) / CAST(s.n AS DOUBLE))), 4) AS z
    FROM e JOIN s ON s.event_type = e.event_type
    WHERE CAST(s.s2 AS DOUBLE) / CAST(s.n AS DOUBLE)
            - (CAST(s.s1 AS DOUBLE) / CAST(s.n AS DOUBLE))
              * (CAST(s.s1 AS DOUBLE) / CAST(s.n AS DOUBLE)) > 0
      AND abs((CAST(e.vc AS DOUBLE)
                - CAST(s.s1 AS DOUBLE) / CAST(s.n AS DOUBLE))
              / sqrt(CAST(s.s2 AS DOUBLE) / CAST(s.n AS DOUBLE)
                     - (CAST(s.s1 AS DOUBLE) / CAST(s.n AS DOUBLE))
                       * (CAST(s.s1 AS DOUBLE) / CAST(s.n AS DOUBLE)))) >= 3.0
    """,
)
def q_ts_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score anomaly flagging: events whose value sits >= 3 population
    standard deviations from their event_type's mean.

    Both engines aggregate the SAME exact integers (n, sum cents, sum
    cents^2 — the sum-of-squares fits BIGINT at ~1.4e15 for the fixture
    range) and then derive mean/variance/z through the identical double
    expression tree, so z is bit-identical and the >= 3.0 threshold
    cannot flip between engines — no epsilon argument required.

    Shape at 100 TB: one map-side-combined hash-agg to a handful of
    per-type rows, broadcast back over the stream, narrow filter. The
    anomaly scan never shuffles the event rows themselves."""
    ev = t(spark, sf_dir, "events").select(
        "event_id", "event_type", "value", cents(F.col("value")).alias("vc")
    )
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vc").alias("s1"),
        F.sum(F.col("vc") * F.col("vc")).alias("s2"),
    )
    mean_c = F.col("s1").cast("double") / F.col("n").cast("double")
    var_c = F.col("s2").cast("double") / F.col("n").cast("double") - mean_c * mean_c
    z = (F.col("vc").cast("double") - mean_c) / F.sqrt(var_c)
    return (
        ev.join(F.broadcast(stats), "event_type")
        .where((var_c > F.lit(0.0)) & (F.abs(z) >= F.lit(3.0)))
        .select("event_id", "event_type", "value", r4(z).alias("z"))
    )


@query(
    "q_win_rolling_distinct",
    """
    WITH pairs AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    d AS (SELECT DISTINCT day FROM pairs)
    SELECT d.day,
           CAST(count(DISTINCT CASE WHEN p.day = d.day THEN user_id END) AS BIGINT) AS dau,
           CAST(count(DISTINCT user_id) AS BIGINT) AS wau,
           round(CAST(count(DISTINCT CASE WHEN p.day = d.day THEN user_id END) AS DOUBLE)
                 / CAST(count(DISTINCT user_id) AS DOUBLE), 4) AS stickiness
    FROM d JOIN pairs p ON p.day BETWEEN d.day - 6 AND d.day
    GROUP BY d.day
    """,
)
def q_win_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users per day (DAU / WAU / stickiness).

    Rolling COUNT DISTINCT does not decompose into window partials
    (distinct is not subtractable), so the scalable formulation is:
    reduce the stream to distinct (day, user) pairs once, then fan each
    pair out to the <= 7 days whose trailing window it falls in via a
    range join against the tiny day spine, and count distinct per day.

    Shape at 100 TB: the (day, user) dedup is the only row-scale
    shuffle; the spine side is O(days) and broadcasts (a nested-loop
    broadcast join against ~thousands of spine rows is free). The
    7-day fan-out multiplies the deduped pairs, never the raw events."""
    pairs = (
        t(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
    )
    days = pairs.select(F.col("day").alias("d_day")).distinct()
    dau = F.count_distinct(
        F.when(F.col("day") == F.col("d_day"), F.col("user_id"))
    ).cast("long")
    wau = F.count_distinct("user_id").cast("long")
    return (
        pairs.join(
            F.broadcast(days),
            (F.col("day") <= F.col("d_day"))
            & (F.col("day") >= F.date_sub(F.col("d_day"), 6)),
        )
        .groupBy("d_day")
        .agg(dau.alias("dau"), wau.alias("wau"))
        .select(
            F.col("d_day").alias("day"),
            "dau",
            "wau",
            r4(F.col("dau").cast("double") / F.col("wau").cast("double")).alias(
                "stickiness"
            ),
        )
    )


FUNNEL_WINDOW_DAYS = 7


@query(
    "q_funnel_ordered",
    f"""
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1
        AND e.ts <= v.t1 + INTERVAL {FUNNEL_WINDOW_DAYS} DAY
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
        AND e.ts <= c.t2 + INTERVAL {FUNNEL_WINDOW_DAYS} DAY
      GROUP BY e.user_id
    )
    SELECT v.user_id, v.t1, c.t2, p.t3,
           CAST(3 AS INTEGER) - CASE WHEN p.t3 IS NULL THEN 1 ELSE 0 END
             - CASE WHEN c.t2 IS NULL THEN 1 ELSE 0 END AS stage,
           epoch_us(c.t2) - epoch_us(v.t1) AS us_view_click,
           epoch_us(p.t3) - epoch_us(c.t2) AS us_click_purchase
    FROM v LEFT JOIN c ON c.user_id = v.user_id
           LEFT JOIN p ON p.user_id = v.user_id
    """,
)
def q_funnel_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-step strictly-ordered conversion funnel (view -> click ->
    purchase), each step within 7 days of the previous, anchored on
    each user's FIRST view (first-touch attribution — the standard
    product-analytics funnel definition; a later view opening a better
    chain is deliberately not credited).

    Every timestamp is an exact min over a filtered join — no floats
    anywhere, inter-step latencies are exact integer microseconds, so
    the hash check is trivial. NULL propagation encodes drop-off: a
    user stalls at the stage whose min is empty.

    Shape at 100 TB: three keyed aggregates + two broadcast-or-shuffle
    joins on user_id, all map-side-combinable. This composes with the
    streaming funnel (q_stream_funnel) which tracks the same chain
    incrementally; here the whole history is folded in one pass."""
    ev = t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(
            (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr(f"INTERVAL {FUNNEL_WINDOW_DAYS} DAY"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(
            (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t2") + F.expr(f"INTERVAL {FUNNEL_WINDOW_DAYS} DAY"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    stage = (
        F.lit(3)
        - F.when(F.col("t3").isNull(), 1).otherwise(0)
        - F.when(F.col("t2").isNull(), 1).otherwise(0)
    ).cast("int")
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "t1",
            "t2",
            "t3",
            stage.alias("stage"),
            (F.unix_micros("t2") - F.unix_micros("t1")).alias("us_view_click"),
            (F.unix_micros("t3") - F.unix_micros("t2")).alias("us_click_purchase"),
        )
    )


@query(
    "q_stats_ttest",
    f"""
    WITH m AS (
      SELECT event_type, count(*) AS n,
             sum({sql_cents("value")}) AS s1,
             sum({sql_cents("value")} * {sql_cents("value")}) AS s2
      FROM events WHERE event_type IN ('view', 'click')
      GROUP BY event_type
    ),
    w AS (
      SELECT
        (SELECT n FROM m WHERE event_type = 'view') AS n1,
        (SELECT n FROM m WHERE event_type = 'click') AS n2,
        (SELECT CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) FROM m WHERE event_type = 'view') AS m1,
        (SELECT CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) FROM m WHERE event_type = 'click') AS m2,
        (SELECT (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                / CAST(n - 1 AS DOUBLE) FROM m WHERE event_type = 'view') AS v1,
        (SELECT (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                / CAST(n - 1 AS DOUBLE) FROM m WHERE event_type = 'click') AS v2
    )
    , tt AS (
      SELECT *, (m1 - m2) / sqrt(v1 / n1 + v2 / n2) AS t_raw FROM w
    ),
    zz AS (SELECT *, abs(t_raw) / sqrt(2.0) AS z FROM tt),
    uu AS (SELECT *, 1.0 / (1.0 + 0.3275911 * z) AS u FROM zz)
    SELECT n1, n2,
           round((m1 - m2) / 100.0, 4) AS mean_diff,
           round(t_raw, 4) AS t_stat,
           round(
             (v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
             / ((v1 / n1) * (v1 / n1) / (n1 - 1) + (v2 / n2) * (v2 / n2) / (n2 - 1)),
             4) AS welch_df,
           round((0.254829592 * u - 0.284496736 * u * u + 1.421413741 * u * u * u
                  - 1.453152027 * u * u * u * u + 1.061405429 * u * u * u * u * u)
                 * exp(-z * z), 4) AS p_value_approx
    FROM uu
    """,
)
def q_stats_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t-test between the 'view' and 'click' value
    distributions — the A/B-test readout every experimentation
    pipeline computes over event streams.

    Cross-engine exactness by the integer-moments recipe: each group
    reduces to exact (n, sum-cents, sum-cents^2) BIGINTs, and mean /
    sample variance / t statistic / Welch-Satterthwaite df all derive
    through the identical double expression tree, so the statistics
    are bit-identical before the presentation round. p_value_approx
    (round 6) is the large-df two-sided NORMAL approximation
    erfc(|t|/sqrt 2) via the Abramowitz-Stegun 7.1.26 series —
    elementary +,*,/ plus one sqrt (correctly rounded) and one exp
    (<=1ulp libm both engines), the identical expression tree on both
    sides; |series error| < 1.5e-7, well inside the 4dp presentation
    round. The exact-CDF p (incomplete beta) stays out by design — t
    and welch_df remain the bit-portable primary result.

    Shape at 100 TB: one filtered map-side-combined aggregate to two
    rows; everything after is driver-free scalar algebra in the plan."""
    # r12 restructure (guide §2.4 + §1.2 step 2), two parts, values
    # bit-identical: (1) the per-group moments came from TWO filtered
    # references to the same aggregate (the events scan+agg subtree ran
    # twice, joined by a crossJoin) — now ONE groupless conditional
    # aggregate (exact BIGINT sums are order-independent, so the
    # conditional form reduces to the same six integers). (2) the
    # scalar tree inlined t_raw into z, u into the 5-term erfc series,
    # and r4 doubled each output — the 1-row projection compiled a
    # multi-thousand-node expression. The intermediates are now staged
    # columns (same ops, same association order, evaluated once).
    vc = cents(F.col("value"))
    is_v = F.col("event_type") == "view"
    is_c = F.col("event_type") == "click"
    j = (
        t(spark, sf_dir, "events")
        .where(F.col("event_type").isin("view", "click"))
        .select("event_type", vc.alias("vc"))
        .agg(
            F.count(F.when(is_v, 1)).alias("n1"),
            F.sum(F.when(is_v, F.col("vc"))).alias("a1"),
            F.sum(F.when(is_v, F.col("vc") * F.col("vc"))).alias("a2"),
            F.count(F.when(is_c, 1)).alias("n2"),
            F.sum(F.when(is_c, F.col("vc"))).alias("b1"),
            F.sum(F.when(is_c, F.col("vc") * F.col("vc"))).alias("b2"),
        )
    )
    m1 = F.col("a1").cast("double") / F.col("n1").cast("double")
    m2 = F.col("b1").cast("double") / F.col("n2").cast("double")
    v1 = (
        F.col("a2").cast("double")
        - F.col("a1").cast("double") * F.col("a1").cast("double") / F.col("n1").cast("double")
    ) / (F.col("n1") - 1).cast("double")
    v2 = (
        F.col("b2").cast("double")
        - F.col("b1").cast("double") * F.col("b1").cast("double") / F.col("n2").cast("double")
    ) / (F.col("n2") - 1).cast("double")
    # Dependency-leveled selects, not a withColumn chain: each chained
    # withColumn is its own eagerly-analyzed Dataset (~8 ms/op, §11).
    staged = (
        j.select(
            "*",
            m1.alias("m1"),
            m2.alias("m2"),
            (v1 / F.col("n1").cast("double")).alias("se1"),
            (v2 / F.col("n2").cast("double")).alias("se2"),
        )
        .select(
            "*",
            (
                (F.col("m1") - F.col("m2")) / F.sqrt(F.col("se1") + F.col("se2"))
            ).alias("t_raw"),
        )
        .select("*", (F.abs(F.col("t_raw")) / F.sqrt(F.lit(2.0))).alias("z"))
        .select(
            "*",
            (F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * F.col("z"))).alias("u"),
        )
    )
    u = F.col("u")
    # A&S 7.1.26 erfc series — term order and association mirror the
    # oracle SQL exactly (left-assoc products, left-assoc sum).
    erfc = (
        F.lit(0.254829592) * u
        - F.lit(0.284496736) * u * u
        + F.lit(1.421413741) * u * u * u
        - F.lit(1.453152027) * u * u * u * u
        + F.lit(1.061405429) * u * u * u * u * u
    ) * F.exp(-(F.col("z") * F.col("z")))
    return staged.select(
        "n1",
        "n2",
        r4((F.col("m1") - F.col("m2")) / F.lit(100.0)).alias("mean_diff"),
        r4(F.col("t_raw")).alias("t_stat"),
        r4(
            (F.col("se1") + F.col("se2")) * (F.col("se1") + F.col("se2"))
            / (
                F.col("se1") * F.col("se1") / (F.col("n1") - 1).cast("double")
                + F.col("se2") * F.col("se2") / (F.col("n2") - 1).cast("double")
            )
        ).alias("welch_df"),
        r4(erfc).alias("p_value_approx"),
    )


@query(
    "q_path_mining",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p1,
             lag(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p2
      FROM events
    ),
    paths AS (
      SELECT p2 || '>' || p1 || '>' || event_type AS path, count(*) AS n_occurrences
      FROM seq WHERE p2 IS NOT NULL
      GROUP BY 1
    )
    SELECT path, n_occurrences,
           CAST(row_number() OVER (ORDER BY n_occurrences DESC, path) AS INTEGER) AS rank
    FROM paths
    ORDER BY n_occurrences DESC, path LIMIT 20
    """,
)
def q_path_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey path mining: the 20 most frequent 3-step event-type
    sequences across all users (per-user order by ts with event_id
    tiebreak; windows never cross users).

    One keyed window (two lags share a single sort), a narrow trigram
    concat, a map-side-combined count, and a TakeOrdered top-20 whose
    (count DESC, path) tiebreak makes the ranking deterministic. The
    rank column encodes order so the hash check is order-insensitive.

    Shape at 100 TB: identical — the per-user window partitions by a
    high-cardinality key, path cardinality is |event_types|^3, and
    only the tiny counted table reaches the top-k heap."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t(spark, sf_dir, "events").select(
        "event_type",
        F.lag("event_type", 1).over(w).alias("p1"),
        F.lag("event_type", 2).over(w).alias("p2"),
    )
    paths = (
        seq.where(F.col("p2").isNotNull())
        .select(
            F.concat_ws(">", F.col("p2"), F.col("p1"), F.col("event_type")).alias(
                "path"
            )
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("path"))
        .limit(20)
    )
    wr = Window.orderBy(F.desc("n_occurrences"), F.asc("path"))
    return paths.withColumn("rank", F.row_number().over(wr).cast("int"))


@query(
    "q_stats_chi2",
    """
    WITH cells AS (
      SELECT lang, source, count(*) AS o FROM documents GROUP BY lang, source
    ),
    tot AS (
      SELECT lang, source, o,
             sum(o) OVER (PARTITION BY lang) AS rt,
             sum(o) OVER (PARTITION BY source) AS ct,
             sum(o) OVER () AS n
      FROM cells
    ),
    st AS (
      SELECT CAST(min(n) AS BIGINT) AS n,
             count(*) AS n_cells,
             count(DISTINCT lang) AS n_langs,
             count(DISTINCT source) AS n_sources,
             sum((CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
                 / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))) AS chi2_raw
      FROM tot
    )
    SELECT n, n_cells,
           (n_langs - 1) * (n_sources - 1) AS dof,
           round(chi2_raw, 4) AS chi2,
           round(sqrt(chi2_raw / (CAST(n AS DOUBLE)
                 * CAST(least(n_langs - 1, n_sources - 1) AS DOUBLE))), 4) AS cramers_v
    FROM st
    """,
)
def q_stats_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between lang and source
    — the categorical A/B readout beside q_stats_ttest's two-sample
    means test — plus Cramer's V effect size.

    The contingency table is exact BIGINT counts (one hash aggregate
    bounded by the category domain, never the corpus); observed,
    expected (row x col / N), the chi2 cell terms, and Cramer's V all
    derive through the identical double expression tree on both
    engines. The cell-term SUM is float-order-dependent across ~|L x S|
    cells, so chi2/cramers_v keep the repo's round(,4) policy for
    order-dependent statistics (same as stddev/corr in q_agg_stats);
    counts and dof are exact integers. Shape at 100 TB: corpus -> cells
    in one map-side-combined aggregate; the window sums and the final
    fold run over the bounded cell table."""
    cells = (
        t(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    tot = (
        cells.withColumn("rt", F.sum("o").over(Window.partitionBy("lang")))
        .withColumn("ct", F.sum("o").over(Window.partitionBy("source")))
        .withColumn("n", F.sum("o").over(Window.partitionBy()))
    )
    e = F.col("rt").cast("double") * F.col("ct").cast("double") / F.col("n").cast(
        "double"
    )
    term = (F.col("o").cast("double") - e) * (F.col("o").cast("double") - e) / e
    st = tot.agg(
        F.min("n").alias("n"),
        F.count(F.lit(1)).alias("n_cells"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum(term).alias("chi2_raw"),
    )
    return st.select(
        "n",
        "n_cells",
        ((F.col("n_langs") - 1) * (F.col("n_sources") - 1)).alias("dof"),
        r4(F.col("chi2_raw")).alias("chi2"),
        r4(
            F.sqrt(
                F.col("chi2_raw")
                / (
                    F.col("n").cast("double")
                    * F.least(F.col("n_langs") - 1, F.col("n_sources") - 1).cast(
                        "double"
                    )
                )
            )
        ).alias("cramers_v"),
    )


@query(
    "q_ts_seasonal",
    """
    WITH b AS (
      SELECT event_type, date_trunc('hour', min(ts)) AS h0,
             date_trunc('hour', max(ts)) AS h1
      FROM events GROUP BY 1
    ),
    spine AS (
      SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      FROM b
    ),
    hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    filled AS (
      SELECT s.event_type, s.h, CAST(coalesce(hr.n, 0) AS BIGINT) AS n
      FROM spine s LEFT JOIN hourly hr
        ON hr.event_type = s.event_type AND hr.h = s.h
    ),
    fc AS (
      SELECT event_type, n,
             lag(n, 24) OVER (PARTITION BY event_type ORDER BY h) AS f
      FROM filled
    )
    SELECT event_type,
           count(*) AS n_hours_scored,
           CAST(sum(abs(n - f)) AS BIGINT) AS sum_abs_err,
           round(CAST(sum(abs(n - f)) AS BIGINT) / CAST(count(*) AS DOUBLE), 4) AS mae
    FROM fc WHERE f IS NOT NULL
    GROUP BY event_type
    """,
)
def q_ts_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: per event type, predict each
    hour's event count with the count 24 hours earlier (same hour
    yesterday) over a zero-filled hourly spine, and report the absolute
    -error backtest. The spine derives from each type's own [min, max]
    hour via sequence() — one per-type aggregate row exploded, no
    driver round-trip, no hand calendar (q_gap_fill's pattern, keyed).

    This is the cheap-and-strong baseline every forecasting pipeline
    needs before anything learned: at 100 TB the hourly aggregate is
    the only corpus-sized work (narrow map + keyed hash-agg); the
    lag(24) runs per type over O(hours) rows. Errors stay exact
    integers end-to-end; MAE is the single final division both engines
    round identically."""
    ev = t(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    )
    bounds = ev.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    spine = bounds.select(
        "event_type",
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("h"),
    )
    hourly = ev.groupBy("event_type", "h").agg(F.count(F.lit(1)).alias("n"))
    filled = spine.join(hourly, ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    fc = filled.withColumn("f", F.lag("n", 24).over(w)).filter(
        F.col("f").isNotNull()
    )
    err = F.abs(F.col("n") - F.col("f"))
    return fc.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours_scored"),
        F.sum(err).alias("sum_abs_err"),
        r4(F.sum(err) / F.count(F.lit(1)).cast("double")).alias("mae"),
    )


@query(
    "q_stats_ks",
    """
    WITH pts AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS c,
             count(*) FILTER (WHERE event_type = 'view') AS ca,
             count(*) FILTER (WHERE event_type = 'click') AS cb
      FROM events WHERE event_type IN ('view', 'click')
      GROUP BY 1
    ),
    tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM pts),
    cum AS (
      SELECT c,
             sum(ca) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
             sum(cb) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b
      FROM pts
    )
    SELECT CAST(tot.na AS BIGINT) AS n_a, CAST(tot.nb AS BIGINT) AS n_b,
           CAST(max(abs(cum.cum_a * tot.nb - cum.cum_b * tot.na)) AS BIGINT) AS d_num,
           round(CAST(max(abs(cum.cum_a * tot.nb - cum.cum_b * tot.na)) AS BIGINT)
                 / CAST(tot.na * tot.nb AS DOUBLE), 4) AS d_stat
    FROM cum CROSS JOIN tot
    GROUP BY tot.na, tot.nb
    """,
)
def q_stats_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic (view vs click value
    distributions) — the distribution-shape A/B companion to the Welch
    t-test (means) and chi-square (categories). D = max ECDF gap,
    computed EXACTLY: values are exact 2dp, so the domain collapses to
    integer cents, the gap numerator |Ca*nb - Cb*na| is pure BIGINT
    arithmetic, and the single final division is the only double.

    Scale shape: one keyed aggregate collapses the corpus to <=56k
    distinct cent rows (bounded by the VALUE DOMAIN, not corpus size —
    the plan-audit justification for the global cumulative window),
    then the running ECDF and max run over that bounded table."""
    ev = t(spark, sf_dir, "events").filter(F.col("event_type").isin("view", "click"))
    pts = ev.groupBy(cents(F.col("value")).alias("c")).agg(
        F.count(F.when(F.col("event_type") == "view", 1)).alias("ca"),
        F.count(F.when(F.col("event_type") == "click", 1)).alias("cb"),
    )
    tot = pts.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = pts.select(
        "c",
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
    )
    gap = F.abs(F.col("cum_a") * F.col("nb") - F.col("cum_b") * F.col("na"))
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("na", "nb")
        .agg(F.max(gap).alias("d_num"))
        .select(
            F.col("na").alias("n_a"),
            F.col("nb").alias("n_b"),
            "d_num",
            r4(F.col("d_num") / (F.col("na") * F.col("nb")).cast("double")).alias(
                "d_stat"
            ),
        )
    )


@query(
    "q_ml_auc",
    """
    WITH pts AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS c,
             count(*) FILTER (WHERE event_type = 'purchase') AS p,
             count(*) FILTER (WHERE event_type = 'view') AS n
      FROM events WHERE event_type IN ('purchase', 'view')
      GROUP BY 1
    ),
    tot AS (SELECT sum(p) AS np, sum(n) AS nn FROM pts),
    cum AS (
      SELECT c, p, n,
             coalesce(sum(n) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS n_below
      FROM pts
    )
    SELECT CAST(tot.np AS BIGINT) AS n_pos, CAST(tot.nn AS BIGINT) AS n_neg,
           CAST(sum(2 * cum.n_below * cum.p + cum.n * cum.p) AS BIGINT) AS u2,
           round(CAST(sum(2 * cum.n_below * cum.p + cum.n * cum.p) AS BIGINT)
                 / CAST(2 * tot.np * tot.nn AS DOUBLE), 4) AS auc
    FROM cum CROSS JOIN tot
    GROUP BY tot.np, tot.nn
    """,
)
def q_ml_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC via the Mann-Whitney U identity (positives =
    purchase values, negatives = view values, score = value): AUC =
    (pairs where pos > neg + half-credit ties) / (P*N), computed in
    pure BIGINT by doubling — u2 = sum(2*negs_below*p_c + ties) — so
    tie handling is exact rather than float-averaged ranks. The model-
    eval primitive every training pipeline needs next to the t-test /
    chi-square / KS readouts.

    Same bounded-domain shape as q_stats_ks: corpus collapses to cent
    rows first (keyed agg), the cumulative below-count runs over the
    <=56k-row domain table, and the single division is the only
    double."""
    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    pts = ev.groupBy(cents(F.col("value")).alias("c")).agg(
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("p"),
        F.count(F.when(F.col("event_type") == "view", 1)).alias("n"),
    )
    tot = pts.agg(F.sum("p").alias("np"), F.sum("n").alias("nn"))
    wb = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, -1)
    cum = pts.select(
        "p", "n", F.coalesce(F.sum("n").over(wb), F.lit(0)).alias("n_below")
    )
    u2 = F.sum(2 * F.col("n_below") * F.col("p") + F.col("n") * F.col("p"))
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("np", "nn")
        .agg(u2.alias("u2"))
        .select(
            F.col("np").alias("n_pos"),
            F.col("nn").alias("n_neg"),
            "u2",
            r4(
                F.col("u2") / (2 * F.col("np") * F.col("nn")).cast("double")
            ).alias("auc"),
        )
    )


@query(
    "q_ts_cusum",
    f"""
    WITH b AS (
      SELECT event_type, date_trunc('hour', min(ts)) AS h0,
             date_trunc('hour', max(ts)) AS h1
      FROM events GROUP BY 1
    ),
    spine AS (
      SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      FROM b
    ),
    hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(sum({sql_cents("value")}) AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    ),
    filled AS (
      SELECT s.event_type, s.h, coalesce(hr.v, 0) AS v,
             row_number() OVER (PARTITION BY s.event_type ORDER BY s.h) AS i,
             count(*) OVER (PARTITION BY s.event_type) AS tt,
             CAST(sum(coalesce(hr.v, 0))
                  OVER (PARTITION BY s.event_type) AS BIGINT) AS total
      FROM spine s LEFT JOIN hourly hr
        ON hr.event_type = s.event_type AND hr.h = s.h
    ),
    dev AS (
      SELECT event_type, h, tt, total,
             abs(tt * CAST(sum(v) OVER (PARTITION BY event_type ORDER BY h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 - i * total) AS d
      FROM filled
    )
    SELECT event_type, CAST(tt AS BIGINT) AS n_hours, h AS cp_hour,
           CAST(d AS BIGINT) AS dev_num,
           round(d / CAST(tt AS DOUBLE) / 100.0::DOUBLE, 4) AS max_dev_value
    FROM (
      SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY d DESC, h) AS r
      FROM dev
    ) x WHERE r = 1
    """,
)
def q_ts_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM-style changepoint detection: per event type, the hour
    where the cumulative revenue deviates most from the constant-rate
    expectation — argmax_t |T * cum(t) - t * total|, the cumulative-
    deviation chart whose peak marks the most likely level shift. The
    deviation numerator is pure BIGINT cross-multiplication over exact
    cents (no float CUSUM recursion, which plain SQL windows cannot
    express anyway); the reported deviation-in-value-units is one
    final division. Argmax tie breaks to the earliest hour.

    Scale shape: corpus collapses to the per-type hourly table first
    (keyed agg + spine zero-fill, same as q_ts_seasonal); every window
    is partitioned by event_type over O(hours) rows."""
    ev = t(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("h"),
        cents(F.col("value")).alias("vc"),
    )
    bounds = ev.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    spine = bounds.select(
        "event_type", F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("h")
    )
    hourly = ev.groupBy("event_type", "h").agg(F.sum("vc").alias("v"))
    wp = Window.partitionBy("event_type")
    wo = wp.orderBy("h")
    wcum = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    filled = (
        spine.join(hourly, ["event_type", "h"], "left")
        .select("event_type", "h", F.coalesce(F.col("v"), F.lit(0)).alias("v"))
        .select(
            "event_type",
            "h",
            "v",
            F.row_number().over(wo).alias("i"),
            F.count(F.lit(1)).over(wp).alias("tt"),
            F.sum("v").over(wp).alias("total"),
        )
    )
    dev = filled.select(
        "event_type",
        "h",
        "tt",
        "total",
        F.abs(
            F.col("tt") * F.sum("v").over(wcum) - F.col("i") * F.col("total")
        ).alias("d"),
    )
    wr = Window.partitionBy("event_type").orderBy(F.desc("d"), F.asc("h"))
    return (
        dev.withColumn("r", F.row_number().over(wr))
        .filter(F.col("r") == 1)
        .select(
            "event_type",
            F.col("tt").cast("long").alias("n_hours"),
            F.col("h").alias("cp_hour"),
            F.col("d").alias("dev_num"),
            r4(F.col("d") / F.col("tt").cast("double") / F.lit(100.0)).alias(
                "max_dev_value"
            ),
        )
    )


# The Hampel series key: a despike is per-SERIES, and the natural
# series here is (event_type, user) — but the 7-row frame needs a few
# rows per partition to be meaningful and a real fleet has millions of
# devices, so the operator partitions on (event_type, portable hash
# bucket of the user). Parallelism scales with HAMPEL_BUCKETS x types
# (160 partitions here, any number at 100 TB) instead of being pinned
# to the 5-value event_type domain — the r6 verdict's weakest
# plan-shape, fixed in the operator rather than documented around.
HAMPEL_BUCKETS = 32
_HAMPEL_BUCKET = f"({hex12_sql('md5(cast(user_id as string))')} % {HAMPEL_BUCKETS})"


@query(
    "q_ts_hampel",
    f"""
    WITH d AS (
      SELECT event_id, event_type,
             CAST({_HAMPEL_BUCKET} AS INTEGER) AS series_bucket,
             CAST(round(value*100,0) AS BIGINT) AS value_cents,
             quantile_cont(CAST(round(value*100,0) AS BIGINT), 0.5) OVER w AS med_cents,
             quantile_cont(CAST(round(value*100,0) AS BIGINT), 0.75) OVER w
               - quantile_cont(CAST(round(value*100,0) AS BIGINT), 0.25) OVER w AS iqr_cents
      FROM events
      WINDOW w AS (PARTITION BY event_type, {_HAMPEL_BUCKET}
                   ORDER BY ts, event_id
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    )
    SELECT event_id, event_type, series_bucket, value_cents, med_cents, iqr_cents,
           abs(value_cents - med_cents) > 1.5 * iqr_cents AS is_outlier
    FROM d
    """,
)
def q_ts_hampel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel-style rolling robust outlier filter: flag a reading when
    it sits more than 1.5 IQRs from the rolling median of its centered
    7-row window — the despiking pass sensor/metrics pipelines run
    before any mean-based aggregate, robust where q_ts_zscore's
    mean/stddev window is not (one spike inflates its own threshold).

    Exactness: values quantize to exact integer cents first, so every
    windowed quantile interpolates between integers at quarter
    fractions — IEEE-exact on both engines (Spark percentile and
    DuckDB quantile_cont both interpolate at rank (n-1)*q) — and the
    1.5*IQR comparison is exact eighth-fraction arithmetic:
    deterministic flags, no rounding needed anywhere. Window frames
    are pinned by the (ts, event_id) tie-break; the series bucket is
    the portable hex12(md5) hash, identical text on both engines.

    Scale shape (round 7): the window partitions on (event_type,
    series_bucket) — a composite key whose bucket arm is a portable
    hash of the entity (user) — then a bounded 7-row sliding frame per
    partition, O(1) state per row. Parallelism is types x buckets
    (5 x 32 here) and the bucket count is a free lever at 100 TB; the
    pre-r7 shape partitioned on event_type alone, which put ~20% of
    the corpus through ONE sort partition. A per-device deployment
    sets the bucket to the device key itself — same plan shape."""
    vc = cents(F.col("value"))
    bucket = F.expr(_HAMPEL_BUCKET).cast("int")
    w = (
        Window.partitionBy("event_type", "series_bucket")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-3, 3)
    )
    # r12 (guide §1.2 step 2): the three windowed quantiles ran as
    # three separate Percentile aggregates, each buffering and sorting
    # the same 7-row frame. percentile(col, array(...)) computes all
    # three from ONE buffer per frame — identical interpolation,
    # identical values, one third the window work.
    d = (
        t(spark, sf_dir, "events")
        .withColumn("series_bucket", bucket)
        .select(
            "event_id",
            "event_type",
            "series_bucket",
            vc.alias("value_cents"),
            F.percentile(
                vc, F.array(F.lit(0.5), F.lit(0.75), F.lit(0.25))
            )
            .over(w)
            .alias("pcts"),
        )
    )
    return d.select(
        "event_id",
        "event_type",
        "series_bucket",
        "value_cents",
        F.element_at("pcts", 1).alias("med_cents"),
        (F.element_at("pcts", 2) - F.element_at("pcts", 3)).alias("iqr_cents"),
        (
            F.abs(F.col("value_cents") - F.element_at("pcts", 1))
            > 1.5 * (F.element_at("pcts", 2) - F.element_at("pcts", 3))
        ).alias("is_outlier"),
    )


ACF_LAGS = (1, 2, 3)


def _acf_lag_sql(k: int) -> str:
    """One lag's pairwise-complete Pearson block over the hourly
    count series (identical expression text on both engines)."""
    return f"""
    SELECT event_type, {k} AS lag_h,
           count(*) AS n_pairs,
           CAST(sum(n * nk) AS BIGINT) AS sxy,
           round(
             CASE WHEN
                 (CAST(count(*) AS DOUBLE) * CAST(sum(n * n) AS DOUBLE)
                    - CAST(sum(n) AS DOUBLE) * CAST(sum(n) AS DOUBLE))
                 * (CAST(count(*) AS DOUBLE) * CAST(sum(nk * nk) AS DOUBLE)
                    - CAST(sum(nk) AS DOUBLE) * CAST(sum(nk) AS DOUBLE)) > 0
             THEN
               (CAST(count(*) AS DOUBLE) * CAST(sum(n * nk) AS DOUBLE)
                  - CAST(sum(n) AS DOUBLE) * CAST(sum(nk) AS DOUBLE))
               / sqrt(
                   (CAST(count(*) AS DOUBLE) * CAST(sum(n * n) AS DOUBLE)
                      - CAST(sum(n) AS DOUBLE) * CAST(sum(n) AS DOUBLE))
                   * (CAST(count(*) AS DOUBLE) * CAST(sum(nk * nk) AS DOUBLE)
                      - CAST(sum(nk) AS DOUBLE) * CAST(sum(nk) AS DOUBLE))
                 )
             ELSE NULL END, 4) AS acf
    FROM lagged
    WHERE nk{k} IS NOT NULL AND bk{k} = bucket - INTERVAL {k} HOUR
    GROUP BY event_type
    """.replace("n * nk", f"n * nk{k}").replace("sum(nk)", f"sum(nk{k})").replace(
        "sum(nk * nk)", f"sum(nk{k} * nk{k})"
    ).replace("nk * nk", f"nk{k} * nk{k}")


_ACF_ORACLE = (
    """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    lagged AS (
      SELECT event_type, bucket, n,
    """
    + ",\n".join(
        f"""lag(n, {k}) OVER (PARTITION BY event_type ORDER BY bucket) AS nk{k},
            lag(bucket, {k}) OVER (PARTITION BY event_type ORDER BY bucket) AS bk{k}"""
        for k in ACF_LAGS
    )
    + """
      FROM hourly
    )
    """
    + " UNION ALL ".join(_acf_lag_sql(k) for k in ACF_LAGS)
)


@query(("q_ts_acf"), _ACF_ORACLE)
def q_ts_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the hourly event-count series at lags 1-3
    hours, per event type — the seasonality diagnostic you run before
    picking q_ts_seasonal's lag or q_ts_ewma's horizon (hourly traffic
    with a daily cycle shows it immediately at these lags).

    Lag pairs are 'pairwise complete over the real clock': lag(k) over
    the observed buckets is only accepted when the lagged bucket is
    EXACTLY k hours earlier, so a gap in the series drops the pair on
    both engines instead of silently pairing across it (the classic
    lag-over-sparse-series bug).

    Exactness: the series is integer counts, every moment sum is an
    exact BIGINT, and Pearson r is computed from those exact integers
    through one identical double expression tree on both engines
    (casts of exact ints are correctly rounded, ditto each
    multiply/subtract/sqrt/divide) with round(,4) absorbing nothing
    but the final presentation. The sxy column pins the exact integer
    cross-moment next to the rounded r.

    Scale shape: the hourly rollup is one map-side-combined hash
    aggregate (the q_ts_resample shape); the lag windows then run over
    the ROLLED-UP series — hours x types, control-plane sized at any
    input scale — so the per-type window sort never touches raw
    events."""
    hourly = (
        t(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy("bucket")
    lagged = hourly.select(
        "event_type",
        "bucket",
        "n",
        *[
            c
            for k in ACF_LAGS
            for c in (
                F.lag("n", k).over(w).alias(f"nk{k}"),
                F.lag("bucket", k).over(w).alias(f"bk{k}"),
            )
        ],
    )
    # r12 (guide §2.4): the per-lag loop referenced `lagged` three
    # times, so the scan → hourly agg → window subtree was derived once
    # per lag (3 scans, 9 exchanges). The lag columns are now unpivoted
    # with one explode and aggregated by (event_type, lag_h) in a
    # single pass — per-(type, lag) groups and their moment sums are
    # identical, so the unioned-vs-grouped results hash the same.
    stacked = (
        lagged.select(
            "event_type",
            "bucket",
            "n",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).cast("int").alias("lag_h"),
                            F.col(f"nk{k}").alias("nk"),
                            F.col(f"bk{k}").alias("bk"),
                        )
                        for k in ACF_LAGS
                    ]
                )
            ).alias("s"),
        )
        .select("event_type", "bucket", "n", "s.lag_h", "s.nk", "s.bk")
        .filter(
            F.col("nk").isNotNull()
            & (
                F.col("bk")
                == F.col("bucket") - F.expr("make_interval(0, 0, 0, 0, lag_h, 0, 0)")
            )
        )
    )
    nk = F.col("nk")
    npd = F.count(F.lit(1)).cast("double")
    sx, sy = F.sum("n").cast("double"), F.sum(nk).cast("double")
    sxx = F.sum(F.col("n") * F.col("n")).cast("double")
    syy = F.sum(nk * nk).cast("double")
    sxy = F.sum(F.col("n") * nk)
    densq = (npd * sxx - sx * sx) * (npd * syy - sy * sy)
    return stacked.groupBy("event_type", "lag_h").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        sxy.cast("long").alias("sxy"),
        r4(
            F.when(
                densq > 0,
                (npd * sxy.cast("double") - sx * sy) / F.sqrt(densq),
            )  # zero-variance series: r undefined -> NULL
        ).alias("acf"),
    ).select("event_type", "lag_h", "n_pairs", "sxy", "acf")


CAL_BINS = 10


@query(
    "q_ml_calibration",
    f"""
    WITH pts AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS c,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      FROM events WHERE event_type IN ('purchase', 'view')
    ),
    mx AS (SELECT max(c) AS max_c FROM pts),
    binned AS (
      SELECT CAST(p.c * {CAL_BINS} // (m.max_c + 1) AS INTEGER) AS bin,
             p.c, p.pos
      FROM pts p CROSS JOIN mx m
    )
    SELECT bin,
           count(*) AS n,
           CAST(sum(pos) AS BIGINT) AS n_pos,
           CAST(sum(pos) * 1000000 // count(*) AS BIGINT) AS pos_rate_ppm,
           CAST(sum(c) AS BIGINT) AS sum_score_cents,
           round(CAST(sum(c) AS BIGINT) / CAST(count(*) AS DOUBLE), 4)
             AS mean_score_cents
    FROM binned GROUP BY bin
    """,
)
def q_ml_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration / reliability table for the q_ml_auc classifier
    setup (score = value cents, positive = purchase, negative = view):
    scores split into {CAL_BINS} equal-width bins over the observed
    range, and each bin reports its size, positive count, EXACT
    positive rate in ppm, and mean score — the table a reliability
    diagram plots, and the per-bin |accuracy − confidence| gaps an ECE
    summarizes. AUC says the ranking is right; THIS says whether the
    scores mean what they claim.

    Exactness: bin assignment is BIGINT floor division against a 1-row
    broadcast max aggregate, rates are exact ppm, and the only double
    is the presentational mean (one division from exact integers).
    Scale shape: one narrow map + 1-row broadcast + one {CAL_BINS}-group
    hash aggregate — no sort, no window, corpus never shuffles beyond
    the map-side-combined bin rollup."""
    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    pts = ev.select(
        cents(F.col("value")).alias("c"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("pos"),
    )
    mx = pts.agg(F.max("c").alias("max_c"))
    binned = pts.crossJoin(F.broadcast(mx)).select(
        F.expr(f"CAST(c * {CAL_BINS} DIV (max_c + 1) AS INT)").alias("bin"),
        "c",
        "pos",
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.expr("CAST(sum(pos) * 1000000 AS BIGINT) DIV count(*)").alias(
            "pos_rate_ppm"
        ),
        F.sum("c").cast("long").alias("sum_score_cents"),
        r4(F.sum("c").cast("double") / F.count(F.lit(1))).alias(
            "mean_score_cents"
        ),
    )


@query(
    "q_ts_concurrency",
    """
    WITH spans AS (
      SELECT user_id, min(epoch_us(ts)) AS s, max(epoch_us(ts)) + 1 AS e
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    ),
    bounds AS (
      SELECT s AS t, 1 AS d FROM spans
      UNION ALL
      SELECT e AS t, -1 AS d FROM spans
    ),
    inst AS (SELECT t, CAST(sum(d) AS BIGINT) AS nd FROM bounds GROUP BY t),
    run AS (
      SELECT t, sum(nd) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
      FROM inst
    )
    SELECT CAST(make_timestamp(t) AS DATE) AS day,
           CAST(max(conc) AS BIGINT) AS max_concurrent,
           count(*) AS n_instants
    FROM run GROUP BY CAST(make_timestamp(t) AS DATE)
    """,
)
def q_ts_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrency curve by sweep line — the +1/−1 boundary prefix-sum
    pattern (concurrent calls / open orders / active sessions): each
    user's per-day activity span becomes a half-open [first, last+1µs)
    interval, boundaries collapse to NET deltas per instant (so
    same-instant starts and ends never depend on tie order), and a
    running sum over the instants yields how many spans are open at
    every moment; reported as per-day peak concurrency. The question
    interval JOINS can't answer cheaply — "how many overlap at once" —
    answered without any join at all.

    Exactness: instants are exact integer microseconds, deltas and the
    running sum are integers, and the per-instant pre-aggregation makes
    the prefix sum well-defined (unique ordering keys, no tie-break
    needed).

    Scale shape: the sweep runs over the BOUNDARY table — two rows per
    (user, day) span, entity-x-calendar bounded, a rollup of the event
    volume — so the single ordered prefix window costs what sorting
    the span catalog costs, never the raw stream. Sharding the sweep
    by coarse time range (sum per shard, prefix-offset per shard — the
    classic two-pass parallel prefix) is the 100 TB form of the same
    plan."""
    spans = (
        t(spark, sf_dir, "events")
        .groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(
            F.min(F.unix_micros(F.col("ts"))).alias("s"),
            (F.max(F.unix_micros(F.col("ts"))) + 1).alias("e"),
        )
    )
    bounds = spans.select(F.col("s").alias("t"), F.lit(1).alias("d")).unionByName(
        spans.select(F.col("e").alias("t"), F.lit(-1).alias("d"))
    )
    inst = bounds.groupBy("t").agg(F.sum("d").cast("long").alias("nd"))
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    run = inst.select("t", F.sum("nd").over(w).alias("conc"))
    return (
        run.groupBy(
            F.to_date(F.timestamp_micros(F.col("t"))).alias("day")
        )
        .agg(
            F.max("conc").cast("long").alias("max_concurrent"),
            F.count(F.lit(1)).alias("n_instants"),
        )
    )


# --- LTTB-style triangle downsampling (round 7) -------------------------

LTTB_BUCKET_US = 3_600_000_000  # 1-hour buckets on the µs timeline


@query(
    "q_ts_lttb",
    f"""
    WITH pts AS (
      SELECT event_id, event_type,
             epoch_us(ts) // {LTTB_BUCKET_US} AS bucket,
             epoch_us(ts) // 1000000 AS xs,
             CAST(round(value*100,0) AS BIGINT) AS yc
      FROM events
    ),
    agg AS (
      SELECT event_type, bucket,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(xs) AS BIGINT) AS sx,
             CAST(sum(yc) AS BIGINT) AS sy
      FROM pts GROUP BY event_type, bucket
    ),
    nbr AS (
      SELECT event_type, bucket,
             lag(n)  OVER w AS pn, lag(sx)  OVER w AS psx, lag(sy)  OVER w AS psy,
             lead(n) OVER w AS nn, lead(sx) OVER w AS nsx, lead(sy) OVER w AS nsy
      FROM agg
      WINDOW w AS (PARTITION BY event_type ORDER BY bucket)
    ),
    scored AS (
      SELECT p.event_id, p.event_type, p.bucket, p.xs, p.yc,
             abs((b.psx - b.pn * p.xs) * (b.nsy - b.nn * p.yc)
               - (b.nsx - b.nn * p.xs) * (b.psy - b.pn * p.yc)) AS area2
      FROM pts p
      JOIN nbr b ON b.event_type = p.event_type AND b.bucket = p.bucket
      WHERE b.pn IS NOT NULL AND b.nn IS NOT NULL
    )
    SELECT event_id, event_type, bucket, xs, yc, area2
    FROM (
      SELECT scored.*, row_number() OVER (
        PARTITION BY event_type, bucket
        ORDER BY area2 DESC, event_id) AS rk
      FROM scored
    ) WHERE rk = 1
    """,
)
def q_ts_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle-area downsampling of each event series to one point
    per hour bucket — the parallel form of LTTB (Steinarsson 2013,
    "Downsampling Time Series for Visual Representation"): in every
    interior bucket keep the point spanning the largest triangle with
    the PREVIOUS and NEXT buckets' mean points, so the kept skyline
    preserves visual extremes instead of sampling them away. Sequential
    LTTB anchors on the previously SELECTED point (an inherently serial
    chain); anchoring on neighbor-bucket means is the standard
    parallelization — every bucket decides independently.

    Exactness: with mean points (Σx/n, Σy/n), twice the triangle area
    scales by n_prev*n_next to the all-integer form
    |(Σx_p − n_p·x)(Σy_n − n_n·y) − (Σx_n − n_n·x)(Σy_p − n_p·y)|.
    x in whole SECONDS and y in cents keep every factor under ~2^31
    (adjacent buckets are <=2h apart, so Σx_p − n_p·x = Σ(x_p − x) is
    n_p*7200 at worst) and the products under ~2^57 — exact BIGINTs,
    no float area anywhere; argmax ties break on event_id.

    Scale shape: one (type, bucket)-keyed aggregate (map-side partial)
    builds the bucket stats; lag/lead run over the BUCKET table (hours
    x types — calendar-bounded, not corpus-sized); scoring is a keyed
    equi-join of points to their own bucket's neighbor stats plus a
    per-bucket argmax window — every stage keyed on (type, bucket),
    nothing global."""
    pts = t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        # truncating integer DIV on positive µs — never double division
        # (a double quotient can truncate differently at boundaries)
        F.expr(f"unix_micros(ts) DIV {LTTB_BUCKET_US}").alias("bucket"),
        F.expr("unix_micros(ts) DIV 1000000").alias("xs"),
        cents(F.col("value")).alias("yc"),
    )
    agg = pts.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xs").cast("long").alias("sx"),
        F.sum("yc").cast("long").alias("sy"),
    )
    w = Window.partitionBy("event_type").orderBy("bucket")
    nbr = agg.select(
        "event_type",
        "bucket",
        F.lag("n").over(w).alias("pn"),
        F.lag("sx").over(w).alias("psx"),
        F.lag("sy").over(w).alias("psy"),
        F.lead("n").over(w).alias("nn"),
        F.lead("sx").over(w).alias("nsx"),
        F.lead("sy").over(w).alias("nsy"),
    )
    area2 = F.abs(
        (F.col("psx") - F.col("pn") * F.col("xs"))
        * (F.col("nsy") - F.col("nn") * F.col("yc"))
        - (F.col("nsx") - F.col("nn") * F.col("xs"))
        * (F.col("psy") - F.col("pn") * F.col("yc"))
    )
    scored = (
        pts.join(nbr, ["event_type", "bucket"])
        .where(F.col("pn").isNotNull() & F.col("nn").isNotNull())
        .withColumn("area2", area2)
    )
    wr = Window.partitionBy("event_type", "bucket").orderBy(
        F.desc("area2"), F.asc("event_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") == 1)
        .select("event_id", "event_type", "bucket", "xs", "yc", "area2")
    )


_DAY_SERIES_SQL = f"""
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum({sql_cents("value")}) AS BIGINT) AS vc
      FROM events GROUP BY 1, 2
"""

_DRAWDOWN_ORACLE = f"""
    WITH d AS ({_DAY_SERIES_SQL}),
    r AS (
      SELECT event_type, day, vc,
             max(vc) OVER (PARTITION BY event_type ORDER BY day
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS run_max
      FROM d
    ),
    dd AS (
      SELECT event_type, day, vc, run_max, run_max - vc AS dd_c,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY run_max - vc DESC, day) AS rn
      FROM r
    )
    SELECT event_type,
           CAST((SELECT count(*) FROM d x
                 WHERE x.event_type = dd.event_type) AS BIGINT) AS n_days,
           day AS trough_day, CAST(run_max AS BIGINT) AS peak_cents,
           CAST(vc AS BIGINT) AS trough_cents,
           CAST(dd_c AS BIGINT) AS drawdown_cents,
           CAST(dd_c * 1000000 // nullif(run_max, 0) AS BIGINT) AS drawdown_ppm
    FROM dd WHERE rn = 1
"""


@query("q_ts_drawdown", _DRAWDOWN_ORACLE)
def q_ts_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per event-type daily revenue series: running
    peak via a cumulative-max window, drawdown = peak - value, and the
    single worst day picked by a total (drawdown DESC, day ASC) order —
    the risk metric every monitoring/finance pipeline wants next to
    the EWMA/z-score/CUSUM family. Exact cents everywhere; the ppm
    depth is one BIGINT floor division.

    Scale shape: the corpus collapses to the (event_type, day) spine
    first (keyed hash agg, map-side combined) — the window and argmax
    run over entity x calendar rows, never raw events; same bounded-
    spine contract as q_ts_cusum / q_ts_concurrency."""
    d = (
        t(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.sum(cents(F.col("value"))).cast("long").alias("vc"))
    )
    wrun = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = d.select(
        "event_type", "day", "vc", F.max("vc").over(wrun).alias("run_max")
    ).withColumn("dd_c", F.col("run_max") - F.col("vc"))
    wpick = Window.partitionBy("event_type").orderBy(F.desc("dd_c"), F.asc("day"))
    days = d.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    return (
        r.withColumn("rn", F.row_number().over(wpick))
        .where(F.col("rn") == 1)
        .join(F.broadcast(days), "event_type")
        .select(
            "event_type",
            "n_days",
            F.col("day").alias("trough_day"),
            F.col("run_max").alias("peak_cents"),
            F.col("vc").alias("trough_cents"),
            F.col("dd_c").alias("drawdown_cents"),
            F.expr("CAST(dd_c * 1000000 AS BIGINT) DIV nullif(run_max, 0)").alias(
                "drawdown_ppm"
            ),
        )
    )


_PEAKS_ORACLE = f"""
    WITH d AS ({_DAY_SERIES_SQL}),
    n AS (
      SELECT event_type, day, vc,
             lag(vc) OVER w AS prev_vc,
             lead(vc) OVER w AS next_vc
      FROM d
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(count(*) FILTER (WHERE vc > prev_vc AND vc > next_vc)
                AS BIGINT) AS n_peaks,
           CAST(count(*) FILTER (WHERE vc < prev_vc AND vc < next_vc)
                AS BIGINT) AS n_troughs,
           CAST(max(CASE WHEN vc > prev_vc AND vc > next_vc THEN vc END)
                AS BIGINT) AS max_peak_cents,
           CAST(min(CASE WHEN vc < prev_vc AND vc < next_vc THEN vc END)
                AS BIGINT) AS min_trough_cents
    FROM n GROUP BY event_type
"""


@query("q_ts_peaks", _PEAKS_ORACLE)
def q_ts_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-extrema census per event-type daily series: a peak is a
    day strictly above BOTH neighbors, a trough strictly below both
    (strict comparisons, so plateaus count as neither — the unambiguous
    convention, applied identically on both engines; series endpoints
    have a NULL neighbor and three-valued logic excludes them). The
    peak-detection primitive under seasonality/alerting dashboards,
    complementing q_ts_cusum's changepoints (which find level SHIFTS,
    not local extrema).

    Scale shape: corpus -> (event_type, day) spine (one keyed agg),
    lag/lead over the bounded spine, one final census aggregate. All
    exact cents."""
    d = (
        t(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.sum(cents(F.col("value"))).cast("long").alias("vc"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    n = d.select(
        "event_type",
        "vc",
        F.lag("vc").over(w).alias("prev_vc"),
        F.lead("vc").over(w).alias("next_vc"),
    )
    is_peak = (F.col("vc") > F.col("prev_vc")) & (F.col("vc") > F.col("next_vc"))
    is_trough = (F.col("vc") < F.col("prev_vc")) & (F.col("vc") < F.col("next_vc"))
    return n.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.count(F.when(is_peak, 1)).cast("long").alias("n_peaks"),
        F.count(F.when(is_trough, 1)).cast("long").alias("n_troughs"),
        F.max(F.when(is_peak, F.col("vc"))).cast("long").alias("max_peak_cents"),
        F.min(F.when(is_trough, F.col("vc"))).cast("long").alias("min_trough_cents"),
    )


def _floor_sq_div(s: str, n: str) -> str:
    """floor(s^2 / n) in overflow-safe BIGINT pieces: s*(s/n) + s*(s%n)/n.

    Direct s*s overflows BIGINT once a series' cents sum passes ~3e9
    (the 10x probe corpus is already there); the decomposition keeps
    every intermediate below ~s*n and is floor-exact for s, n > 0 —
    and, being one shared text, identical on both engines."""
    return f"({s} * ({s} // {n}) + ({s} * ({s} % {n})) // {n})"


_ANOVA_ORACLE = f"""
    WITH v AS (
      SELECT event_type, {sql_cents("value")} AS vc FROM events
    ),
    g AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS ng,
             CAST(sum(vc) AS BIGINT) AS sg,
             CAST(sum(vc * vc) AS BIGINT) AS sg2
      FROM v GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(ng) AS BIGINT) AS n,
             CAST(sum(sg) AS BIGINT) AS s,
             CAST(sum(sg2) AS BIGINT) AS s2,
             CAST(count(*) AS BIGINT) AS k,
             CAST(sum({_floor_sq_div("sg", "ng")}) AS BIGINT) AS sum_t
      FROM g
    )
    SELECT k AS k_groups, n AS n_events,
           CAST(sum_t - {_floor_sq_div("s", "n")} AS BIGINT) AS ssb_cents2,
           CAST(s2 - sum_t AS BIGINT) AS ssw_cents2,
           CAST((greatest(sum_t - {_floor_sq_div("s", "n")}, 0) // (k - 1)) * 1000
                // nullif((s2 - sum_t) // (n - k), 0) AS BIGINT) AS f_milli
    FROM tot
"""


@query("q_stats_anova", _ANOVA_ORACLE)
def q_stats_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic across the event-type groups on value
    cents — the k-group generalization of q_stats_ttest (is ANY group
    mean different?). Between/within sums of squares come from exact
    BIGINT moments (n, sum, sum-of-squares per group); every division
    is a floor division applied identically on both engines, with
    floor(s^2/n) decomposed to stay in BIGINT range (helper docstring),
    so the statistic is DEFINED as this integer recipe and the hash
    check is exact — the same quantized-statistic contract as
    q_graph_pagerank. Truncation error is < 1 cent^2 per term against
    sums of ~1e12, far below any decision-relevant difference. SSB's
    truncation artifact can reach −(k−1) when the true statistic is 0,
    so the F-numerator clamps it at 0 (greatest) before dividing —
    keeping the division operand provably non-negative on any engine —
    and the within-group mean square is nullif-guarded against an
    all-constant-groups corpus.

    Scale shape: one map-side-combinable hash aggregate over events
    (3 BIGINTs per group), a k-row total, arithmetic on one row."""
    v = t(spark, sf_dir, "events").select(
        "event_type", cents(F.col("value")).alias("vc")
    )
    g = v.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum("vc").cast("long").alias("sg"),
        F.sum(F.col("vc") * F.col("vc")).cast("long").alias("sg2"),
    )
    sq = "sg * (sg DIV ng) + (sg * (sg % ng)) DIV ng"
    tot = g.agg(
        F.sum("ng").cast("long").alias("n"),
        F.sum("sg").cast("long").alias("s"),
        F.sum("sg2").cast("long").alias("s2"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.expr(f"CAST(sum({sq}) AS BIGINT)").alias("sum_t"),
    )
    grand = "(s * (s DIV n) + (s * (s % n)) DIV n)"
    return tot.select(
        F.col("k").alias("k_groups"),
        F.col("n").alias("n_events"),
        F.expr(f"CAST(sum_t - {grand} AS BIGINT)").alias("ssb_cents2"),
        F.expr("CAST(s2 - sum_t AS BIGINT)").alias("ssw_cents2"),
        F.expr(
            f"CAST((greatest(sum_t - {grand}, 0) DIV (k - 1)) * 1000"
            " DIV nullif((s2 - sum_t) DIV (n - k), 0) AS BIGINT)"
        ).alias("f_milli"),
    )


CONF_THRESH_C = 10_000  # prediction threshold: value >= 100.00

_CONFUSION_ORACLE = f"""
    WITH e AS (
      SELECT event_type, {sql_cents("value")} AS vc FROM events
      WHERE event_type IN ('purchase', 'view')
    ),
    c AS (
      SELECT
        CAST(count(*) FILTER (WHERE event_type = 'purchase'
                              AND vc >= {CONF_THRESH_C}) AS BIGINT) AS tp,
        CAST(count(*) FILTER (WHERE event_type = 'view'
                              AND vc >= {CONF_THRESH_C}) AS BIGINT) AS fp,
        CAST(count(*) FILTER (WHERE event_type = 'purchase'
                              AND vc < {CONF_THRESH_C}) AS BIGINT) AS fn,
        CAST(count(*) FILTER (WHERE event_type = 'view'
                              AND vc < {CONF_THRESH_C}) AS BIGINT) AS tn
      FROM e
    )
    SELECT tp, fp, fn, tn,
           CAST(tp * 1000000 // nullif(tp + fp, 0) AS BIGINT) AS precision_ppm,
           CAST(tp * 1000000 // nullif(tp + fn, 0) AS BIGINT) AS recall_ppm,
           CAST(2 * (tp * 1000000 // nullif(tp + fp, 0))
                  * (tp * 1000000 // nullif(tp + fn, 0))
                // nullif((tp * 1000000 // nullif(tp + fp, 0))
                          + (tp * 1000000 // nullif(tp + fn, 0)), 0)
                AS BIGINT) AS f1_ppm,
           CAST((tp + tn) * 1000000 // nullif(tp + fp + fn + tn, 0) AS BIGINT)
             AS accuracy_ppm
    FROM c
"""


@query("q_ml_confusion", _CONFUSION_ORACLE)
def q_ml_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary confusion matrix at a fixed decision threshold (predict
    'purchase' when value >= {CONF_THRESH_C} cents; positives are the
    actual purchases, negatives the views — the same label/score frame
    as q_ml_auc) with precision / recall / F1 / accuracy in exact ppm.
    q_ml_auc ranks the classifier threshold-free and q_ml_calibration
    bins its scores; this key is the deployment-time readout at the
    threshold you actually ship. F1 is the harmonic mean computed from
    the ppm-truncated precision/recall — one shared integer recipe on
    both engines, so the hash is exact. Every denominator is
    nullif-guarded: a corpus where no row crosses the threshold (tp=0,
    prec=rec=0) yields NULL metrics on both engines instead of a
    DuckDB division-by-zero error vs a Spark NULL.

    Scale shape: one filtered scan -> four conditional counts in a
    single map-side-combinable aggregate; arithmetic on one row."""
    e = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    vc = cents(F.col("value"))
    pos = F.col("event_type") == "purchase"
    pred = vc >= CONF_THRESH_C
    c = e.select(
        F.count(F.when(pos & pred, 1)).cast("long").alias("tp"),
        F.count(F.when(~pos & pred, 1)).cast("long").alias("fp"),
        F.count(F.when(pos & ~pred, 1)).cast("long").alias("fn"),
        F.count(F.when(~pos & ~pred, 1)).cast("long").alias("tn"),
    )
    prec = "(tp * 1000000 DIV nullif(tp + fp, 0))"
    rec = "(tp * 1000000 DIV nullif(tp + fn, 0))"
    return c.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.expr(f"CAST({prec} AS BIGINT)").alias("precision_ppm"),
        F.expr(f"CAST({rec} AS BIGINT)").alias("recall_ppm"),
        F.expr(
            f"CAST(2 * {prec} * {rec} DIV nullif({prec} + {rec}, 0) AS BIGINT)"
        ).alias("f1_ppm"),
        F.expr(
            "CAST((tp + tn) * 1000000 DIV nullif(tp + fp + fn + tn, 0)"
            " AS BIGINT)"
        ).alias("accuracy_ppm"),
    )


_LIFT_ORACLE = f"""
    WITH e AS (
      SELECT event_type, {sql_cents("value")} AS vc FROM events
      WHERE event_type IN ('purchase', 'view')
    ),
    pts AS (
      SELECT vc,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS p
      FROM e GROUP BY vc
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(p) AS BIGINT) AS pt
            FROM pts),
    cum AS (
      SELECT vc, n, p,
             coalesce(sum(n) OVER (ORDER BY vc DESC
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS n_above
      FROM pts
    ),
    dec AS (
      SELECT CAST(n_above * 10 // (SELECT nt FROM tot) AS INTEGER) AS decile,
             n, p
      FROM cum
    )
    SELECT decile,
           CAST(sum(n) AS BIGINT) AS n_rows,
           CAST(sum(p) AS BIGINT) AS n_pos,
           CAST(sum(p) * 1000000 // sum(n) AS BIGINT) AS rate_ppm,
           CAST(sum(p) * (SELECT nt FROM tot) * 1000
                // (sum(n) * (SELECT pt FROM tot)) AS BIGINT) AS lift_milli
    FROM dec GROUP BY decile
"""


@query("q_ml_lift", _LIFT_ORACLE)
def q_ml_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift table for the purchase-vs-view score frame shared
    with q_ml_auc / q_ml_confusion: rows ranked by score descending,
    cut into ten equal-population bins, and each bin's positive rate
    compared to the base rate (lift in exact milli-units). The
    campaign-targeting readout — 'the top decile converts at 2.3x
    base' — that AUC alone doesn't give.

    Decile assignment avoids a corpus-wide sort: the corpus collapses
    to the bounded cent domain (q_ml_auc's shape), the cumulative
    count-above runs over the domain table, and a row's decile is
    n_above*10 div n_total — score ties land in one decile by
    construction, identically on both engines (bins are therefore
    equal-population up to tie granularity, the honest definition).
    All divisions are BIGINT floor divisions on non-negative values.

    Scale shape: one hash agg to the cent domain, one window over the
    ≤56k-row domain, one 10-group rollup."""
    e = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    pts = e.groupBy(cents(F.col("value")).alias("vc")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("long")
        .alias("p"),
    )
    tot = pts.agg(
        F.sum("n").cast("long").alias("nt"), F.sum("p").cast("long").alias("pt")
    )
    wa = Window.orderBy(F.desc("vc")).rowsBetween(Window.unboundedPreceding, -1)
    cum = pts.select(
        "n", "p", F.coalesce(F.sum("n").over(wa), F.lit(0)).alias("n_above")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            F.expr("CAST(n_above * 10 DIV nt AS INT)").alias("decile"),
            "n",
            "p",
            "nt",
            "pt",
        )
        .groupBy("decile", "nt", "pt")
        .agg(F.sum("n").cast("long").alias("n_rows"), F.sum("p").cast("long").alias("n_pos"))
        .select(
            "decile",
            "n_rows",
            "n_pos",
            F.expr("CAST(n_pos * 1000000 DIV n_rows AS BIGINT)").alias("rate_ppm"),
            F.expr(
                "CAST(n_pos * nt * 1000 DIV (n_rows * pt) AS BIGINT)"
            ).alias("lift_milli"),
        )
    )


SEAS_OFF = 1_000_000_000_000  # offset making detrended sums positive pre-division


_DECOMPOSE_ORACLE = f"""
    WITH d AS ({_DAY_SERIES_SQL}),
    tr AS (
      SELECT event_type, day, vc,
             CAST(sum(vc) OVER w AS BIGINT) AS sum7,
             CAST(count(*) OVER w AS BIGINT) AS n7,
             (day - DATE '1970-01-01') % 7 AS weekday
      FROM d
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    det AS (
      SELECT event_type, weekday,
             vc * n7 - sum7 AS detr_n7
      FROM tr WHERE n7 = 7
    )
    SELECT event_type, CAST(weekday AS INTEGER) AS weekday,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(detr_n7) AS BIGINT) AS sum_detrended_x7,
           CAST((sum(detr_n7) + {SEAS_OFF} * count(*) * 7)
                // (count(*) * 7) - {SEAS_OFF} AS BIGINT) AS seasonal_cents
    FROM det GROUP BY event_type, weekday
"""


@query("q_ts_decompose", _DECOMPOSE_ORACLE)
def q_ts_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend/seasonal decomposition of the per-type daily series — the
    moving-average classical decomposition (the deterministic core of
    STL): trend = centered 7-day moving average, detrended = value −
    trend, seasonal = mean detrended value per weekday. Weekday is
    epoch-day mod 7 (engines disagree on dayofweek numbering; integer
    arithmetic doesn't). To keep everything in exact integers the
    detrended series is carried ×7 (value·n7 − sum7, no division), and
    the per-weekday mean applies the offset trick — add a constant
    large enough to make the numerator positive, floor-divide, subtract
    it back — because Spark's DIV truncates toward zero while DuckDB's
    // floors, and they only agree on non-negative operands. Window
    edges (n7 < 7) are excluded from the seasonal fit, as in the
    classical method.

    Scale shape: corpus -> (type, day) spine agg; the moving window
    and weekday rollup run over the bounded spine."""
    d = (
        t(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.sum(cents(F.col("value"))).cast("long").alias("vc"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    tr = d.select(
        "event_type",
        "vc",
        F.sum("vc").over(w).cast("long").alias("sum7"),
        F.count(F.lit(1)).over(w).cast("long").alias("n7"),
        F.expr("CAST(datediff(day, DATE '1970-01-01') % 7 AS INT)").alias(
            "weekday"
        ),
    )
    det = tr.where(F.col("n7") == 7).select(
        "event_type",
        "weekday",
        (F.col("vc") * F.col("n7") - F.col("sum7")).alias("detr_n7"),
    )
    return det.groupBy("event_type", "weekday").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("detr_n7").cast("long").alias("sum_detrended_x7"),
        F.expr(
            f"CAST((sum(detr_n7) + {SEAS_OFF} * count(*) * 7)"
            f" DIV (count(*) * 7) - {SEAS_OFF} AS BIGINT)"
        ).alias("seasonal_cents"),
    )


BOOT_B = 32  # bootstrap replicates
BOOT_U_DOM = 1_048_576  # 2^20 uniform grid for the Poisson draw
# Poisson(1) CDF thresholds on the 2^20 grid: u < T[k] => weight <= k.
_BOOT_T = [385749, 771499, 964373, 1028665, 1044738, 1047952, 1048488, 1048565]
_BOOT_W_CASE = (
    "CASE "
    + " ".join(f"WHEN u < {t} THEN {k}" for k, t in enumerate(_BOOT_T))
    + " ELSE 8 END"
)


def _bootstrap_oracle() -> str:
    seed = "concat(CAST(event_id AS VARCHAR), '|', CAST(r AS VARCHAR))"
    u = f"({hex12_sql(f'md5({seed})')} % {BOOT_U_DOM})"
    return f"""
    WITH f AS (
      SELECT event_id, event_type, {sql_cents("value")} AS vc FROM events
    ),
    rep AS (
      SELECT f.event_type, f.vc, CAST(x.r AS INTEGER) AS r,
             {_BOOT_W_CASE.replace("u <", f"{u} <")} AS w
      FROM f, UNNEST(range(0, {BOOT_B})) AS x(r)
    ),
    means AS (
      SELECT event_type, r,
             CAST(sum(w * vc) * 1000 // nullif(sum(w), 0) AS BIGINT) AS m_milli
      FROM rep GROUP BY event_type, r
    ),
    pt AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(vc) * 1000 // count(*) AS BIGINT) AS point_mean_milli
      FROM f GROUP BY event_type
    ),
    agg AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_replicates,
             CAST(sum(m_milli) AS BIGINT) AS s1,
             CAST(sum(m_milli * m_milli) AS BIGINT) AS s2
      FROM means GROUP BY event_type
    )
    SELECT pt.event_type, pt.n_events, pt.point_mean_milli,
           agg.n_replicates,
           CAST(agg.s1 // agg.n_replicates AS BIGINT) AS boot_mean_milli,
           round(sqrt(CAST(agg.n_replicates * agg.s2 - agg.s1 * agg.s1 AS DOUBLE)
                 / CAST(agg.n_replicates * (agg.n_replicates - 1) AS DOUBLE)), 4)
             AS boot_se_milli
    FROM pt JOIN agg ON agg.event_type = pt.event_type
    """


@query("q_stats_bootstrap", _bootstrap_oracle())
def q_stats_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap standard error of the per-type mean value
    (Chamandy et al. 2012, "Estimating uncertainty for massive data
    streams" — the bootstrap that works on data too big to resample):
    each row enters replicate r with a Poisson(1) weight drawn by
    inverse CDF from the portable hash of (event_id, r), so the
    {BOOT_B} resampled means need one map + one keyed aggregate — no
    materialized resamples, no driver randomness, and the whole thing
    is deterministic and hash-checked. Replicate means are exact milli
    integers; the SE's variance numerator B·Σm² − (Σm)² is exact
    BIGINT with one final sqrt rounded identically.

    The uncertainty companion to the point estimates everywhere else:
    q_stats_ttest compares two groups, this key puts an error bar on
    any single statistic.

    Scale shape: the replicate fan-out is a broadcast {BOOT_B}-row
    range join (rows x B narrow map — the documented cost of the
    method), then one (type, replicate) hash aggregate, map-side
    combinable; everything downstream is B-row-per-type control
    plane. Weight thresholds are precomputed CDF literals — no
    runtime exp/ln."""
    f = t(spark, sf_dir, "events").select(
        "event_id", "event_type", cents(F.col("value")).alias("vc")
    )
    reps = spark.range(BOOT_B).select(F.col("id").cast("int").alias("r"))
    seed = "concat(CAST(event_id AS STRING), '|', CAST(r AS STRING))"
    # Stage md5 -> hex12 -> u through named columns (r12, guide §1.2
    # step 2): inlining u into every CASE branch put ~96 textual copies
    # of the md5 tree in one projection — conditional branches defeat
    # subexpression elimination, so each row-replicate hashed up to 8x
    # and the generated code was enormous (cold wall 7.4 s at sf0.01).
    # CollapseProject keeps multi-referenced non-cheap aliases staged,
    # so each link is now evaluated once per row. Same values, same
    # hash — only the evaluation count changes.
    rep = (
        f.crossJoin(F.broadcast(reps))
        .withColumn("h12", F.expr(f"md5({seed})"))
        .withColumn("u", F.expr(f"({hex12_sql('h12')} % {BOOT_U_DOM})"))
        .select("event_type", "vc", "r", F.expr(_BOOT_W_CASE).alias("w"))
    )
    means = rep.groupBy("event_type", "r").agg(
        F.expr(
            "CAST(sum(w * vc) * 1000 DIV nullif(sum(w), 0) AS BIGINT)"
        ).alias("m_milli")
    )
    pt = f.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.expr("CAST(sum(vc) * 1000 DIV count(*) AS BIGINT)").alias(
            "point_mean_milli"
        ),
    )
    agg = means.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_replicates"),
        F.sum("m_milli").cast("long").alias("s1"),
        F.sum(F.col("m_milli") * F.col("m_milli")).cast("long").alias("s2"),
    )
    return pt.join(agg, "event_type").select(
        "event_type",
        "n_events",
        "point_mean_milli",
        "n_replicates",
        F.expr("CAST(s1 DIV n_replicates AS BIGINT)").alias("boot_mean_milli"),
        r4(
            F.sqrt(
                (
                    F.col("n_replicates") * F.col("s2")
                    - F.col("s1") * F.col("s1")
                ).cast("double")
                / (F.col("n_replicates") * (F.col("n_replicates") - 1)).cast(
                    "double"
                )
            )
        ).alias("boot_se_milli"),
    )


_TRANSITIONS_ORACLE = """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    c AS (
      SELECT prev_type, event_type AS next_type,
             CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    ),
    rowtot AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS rt FROM c
               GROUP BY prev_type)
    SELECT c.prev_type, c.next_type, c.n,
           CAST(c.n * 1000000 // rowtot.rt AS BIGINT) AS p_ppm
    FROM c JOIN rowtot ON rowtot.prev_type = c.prev_type
"""


@query("q_ts_transitions", _TRANSITIONS_ORACLE)
def q_ts_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types: for every
    (prev, next) pair observed consecutively within a user's timeline,
    the count and the row-conditional probability P(next | prev) in
    exact ppm. The behavioral-model primitive under next-action
    prediction and anomaly scoring; q_path_mining surfaces the top
    FULL paths, this key estimates the chain those paths are drawn
    from (k^2 cells instead of exponentially many paths).

    Exact: deterministic per-user ordering (ts, event_id tiebreak),
    BIGINT counts, one floor division per cell.

    Scale shape: one per-user lag window (the q_win_lag_lead shape —
    state per partition is one user's events), then a k^2-cell hash
    aggregate with a broadcast row-total join. The matrix is bounded
    by the event-type alphabet, not the corpus."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t(spark, sf_dir, "events").select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    c = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    rowtot = c.groupBy("prev_type").agg(F.sum("n").cast("long").alias("rt"))
    return c.join(F.broadcast(rowtot), "prev_type").select(
        "prev_type",
        "next_type",
        "n",
        F.expr("CAST(n * 1000000 DIV rt AS BIGINT)").alias("p_ppm"),
    )


_HEATMAP_ORACLE = f"""
    WITH e AS (
      SELECT (CAST(ts AS DATE) - DATE '1970-01-01') % 7 AS weekday,
             CAST(extract(hour FROM ts) AS INTEGER) AS hour,
             {sql_cents("value")} AS vc
      FROM events
    ),
    c AS (
      SELECT CAST(weekday AS INTEGER) AS weekday, hour,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(vc) AS BIGINT) AS sum_cents
      FROM e GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(sum(n_events) AS BIGINT) AS nt FROM c)
    SELECT weekday, hour, n_events, sum_cents,
           CAST(n_events * 1000000 // (SELECT nt FROM tot) AS BIGINT)
             AS share_ppm
    FROM c
"""


@query("q_ts_heatmap", _HEATMAP_ORACLE)
def q_ts_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday x hour activity heatmap: event counts, exact cents
    revenue, and traffic share in exact ppm per cell — the seasonality
    readout behind capacity planning and anomaly baselines (q_ts_acf
    measures periodicity in one number; this key shows WHERE in the
    week it lives). Weekday is epoch-day mod 7 (engine-numbering-
    agnostic, as in q_ts_decompose); hour extraction agrees because
    both engines store the same µs timestamps.

    Scale shape: one narrow map -> a 168-cell hash aggregate
    (map-side combined) + a 1-row broadcast total. Nothing else."""
    e = t(spark, sf_dir, "events").select(
        F.expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') % 7 AS INT)").alias(
            "weekday"
        ),
        F.hour("ts").cast("int").alias("hour"),
        cents(F.col("value")).alias("vc"),
    )
    c = e.groupBy("weekday", "hour").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("vc").cast("long").alias("sum_cents"),
    )
    tot = c.agg(F.sum("n_events").cast("long").alias("nt"))
    return (
        c.crossJoin(F.broadcast(tot))
        .select(
            "weekday",
            "hour",
            "n_events",
            "sum_cents",
            F.expr("CAST(n_events * 1000000 DIV nt AS BIGINT)").alias("share_ppm"),
        )
    )


PSI_BINS = 10
PSI_LN_SCALE = 1_000_000


def _psi_lnq(x: str) -> str:
    return f"CAST(floor(ln(CAST({x} AS DOUBLE)) * {PSI_LN_SCALE} + 0.5) AS BIGINT)"


def _psi_oracle() -> str:
    half = f"({hex12_sql('md5(CAST(event_id AS VARCHAR))')} % 2)"
    return f"""
    WITH e AS (
      SELECT {half} AS half, {sql_cents("value")} AS vc FROM events
    ),
    mx AS (SELECT CAST(max(vc) AS BIGINT) AS m FROM e),
    b AS (
      SELECT half,
             CAST(least(vc * {PSI_BINS} // ((SELECT m FROM mx) + 1),
                        {PSI_BINS - 1}) AS INTEGER) AS bin
      FROM e
    ),
    c AS (
      SELECT bin,
             CAST(count(*) FILTER (WHERE half = 0) AS BIGINT) AS na,
             CAST(count(*) FILTER (WHERE half = 1) AS BIGINT) AS nb
      FROM b GROUP BY bin
    ),
    tot AS (SELECT CAST(sum(na) AS BIGINT) AS ta, CAST(sum(nb) AS BIGINT) AS tb
            FROM c),
    p AS (
      SELECT bin,
             greatest(na * 1000000 // (SELECT ta FROM tot), 1) AS pa,
             greatest(nb * 1000000 // (SELECT tb FROM tot), 1) AS pb
      FROM c
    )
    SELECT CAST(count(*) AS BIGINT) AS n_bins,
           CAST(sum((pa - pb) * ({_psi_lnq("pa")} - {_psi_lnq("pb")}))
                // 1000000 AS BIGINT) AS psi_micro
    FROM p
"""


@query("q_ml_psi", _psi_oracle())
def q_ml_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two deterministic portable-
    hash halves of the event value distribution — the model-monitoring
    industry standard (PSI < 0.1 stable, > 0.25 shifted; here in exact
    micro units, so 100_000 = 0.1): Σ (p_a−p_b)·ln(p_a/p_b) over
    {PSI_BINS} equal-width bins. Both factors of each term carry the
    same sign, so every term is non-negative and the single floor
    division at the end is engine-agreeing; shares are floored at
    1 ppm (the standard zero-cell guard) and each distinct share's ln
    is snapped once to the 1e-6 grid. In production the halves become
    training-time vs serving-time windows; the split-half form is the
    self-calibrating null baseline (its PSI should sit near 0 — the
    same methodology as q_embed_drift and q_profile_drift, completing
    scalar / embedding / categorical drift coverage).

    Scale shape: one narrow map + a {PSI_BINS}-cell conditional
    aggregate against a 1-row broadcast max; control-plane arithmetic
    after."""
    half = f"CAST({hex12_sql('md5(CAST(event_id AS STRING))')} % 2 AS INT)"
    e = t(spark, sf_dir, "events").select(
        F.expr(half).alias("half"), cents(F.col("value")).alias("vc")
    )
    mx = e.agg(F.max("vc").cast("long").alias("m"))
    b = e.crossJoin(F.broadcast(mx)).select(
        "half",
        F.expr(
            f"CAST(least(vc * {PSI_BINS} DIV (m + 1), {PSI_BINS - 1}) AS INT)"
        ).alias("bin"),
    )
    c = b.groupBy("bin").agg(
        F.count(F.when(F.col("half") == 0, 1)).cast("long").alias("na"),
        F.count(F.when(F.col("half") == 1, 1)).cast("long").alias("nb"),
    )
    tot = c.agg(
        F.sum("na").cast("long").alias("ta"), F.sum("nb").cast("long").alias("tb")
    )
    p = c.crossJoin(F.broadcast(tot)).select(
        F.expr("greatest(na * 1000000 DIV ta, 1)").alias("pa"),
        F.expr("greatest(nb * 1000000 DIV tb, 1)").alias("pb"),
    )
    return p.agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.expr(
            f"CAST(sum((pa - pb) * ({_psi_lnq('pa')} - {_psi_lnq('pb')}))"
            " DIV 1000000 AS BIGINT)"
        ).alias("psi_micro"),
    )


_MK_ORACLE = f"""
    WITH d AS ({_DAY_SERIES_SQL}),
    pairs AS (
      SELECT a.event_type,
             CASE WHEN b.vc > a.vc THEN 1
                  WHEN b.vc < a.vc THEN -1 ELSE 0 END AS sgn
      FROM d a JOIN d b
        ON b.event_type = a.event_type AND b.day > a.day
    )
    SELECT event_type,
           CAST((SELECT count(*) FROM d x
                 WHERE x.event_type = pairs.event_type) AS BIGINT) AS n_days,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(sgn) AS BIGINT) AS mk_s,
           CAST(sum(CASE WHEN sgn = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ties
    FROM pairs GROUP BY event_type
"""


@query("q_ts_mk_trend", _MK_ORACLE)
def q_ts_mk_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend statistic per event-type daily series
    (Mann 1945): S = Σ_{{i<j}} sign(x_j − x_i) over all ordered day
    pairs, with the pair and tie counts needed for the variance term —
    the NONPARAMETRIC trend detector (monotonic drift without assuming
    linearity or normality) that complements q_agg_regr's least-squares
    slope and q_ts_cusum's changepoint. Pure integer comparisons; the
    hash check is exact.

    Scale shape: the all-pairs join runs on the (event_type, day)
    SPINE — entity × calendar bounded (tens of rows per series), never
    raw events; the corpus collapses in one keyed hash aggregate
    first. At any corpus size the pair count is days², a control-plane
    quantity (a year is ~66k pairs per series)."""
    d = (
        t(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.sum(cents(F.col("value"))).cast("long").alias("vc"))
    )
    a = d.select("event_type", F.col("day").alias("day_a"), F.col("vc").alias("va"))
    b = d.select("event_type", F.col("day").alias("day_b"), F.col("vc").alias("vb"))
    pairs = a.join(b, "event_type").where(F.col("day_b") > F.col("day_a")).select(
        "event_type",
        F.when(F.col("vb") > F.col("va"), 1)
        .when(F.col("vb") < F.col("va"), -1)
        .otherwise(0)
        .alias("sgn"),
    )
    days = d.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    return (
        pairs.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("sgn").cast("long").alias("mk_s"),
            F.count(F.when(F.col("sgn") == 0, 1)).cast("long").alias("n_ties"),
        )
        .join(F.broadcast(days), "event_type")
        .select("event_type", "n_days", "n_pairs", "mk_s", "n_ties")
    )


BRIER_BINS = 10


def _brier_oracle() -> str:
    return f"""
    WITH e AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             {sql_cents("value")} AS vc
      FROM events WHERE event_type IN ('purchase', 'view')
    ),
    mx AS (SELECT CAST(max(vc) AS BIGINT) AS m FROM e),
    f AS (
      SELECT y, CAST(vc * 1000 // ((SELECT m FROM mx) + 1) AS BIGINT) AS fm
      FROM e
    ),
    g AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(1000 * sum(y) // count(*) AS BIGINT) AS obar,
             CAST(sum((fm - 1000 * y) * (fm - 1000 * y)) // count(*) AS BIGINT)
               AS brier_micro
      FROM f
    ),
    b AS (
      SELECT least(fm // {1000 // BRIER_BINS}, {BRIER_BINS - 1}) AS bin,
             CAST(count(*) AS BIGINT) AS nk,
             CAST(sum(fm) // count(*) AS BIGINT) AS fbar,
             CAST(1000 * sum(y) // count(*) AS BIGINT) AS obark
      FROM f GROUP BY 1
    )
    SELECT g.n, g.obar AS base_rate_milli, g.brier_micro,
           CAST(sum(b.nk * (b.fbar - b.obark) * (b.fbar - b.obark)) // g.n
                AS BIGINT) AS reliability_micro,
           CAST(sum(b.nk * (b.obark - g.obar) * (b.obark - g.obar)) // g.n
                AS BIGINT) AS resolution_micro,
           CAST(g.obar * (1000 - g.obar) AS BIGINT) AS uncertainty_micro
    FROM b CROSS JOIN g
    GROUP BY g.n, g.obar, g.brier_micro
"""


@query("q_ml_brier", _brier_oracle())
def q_ml_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score with the Murphy (1973) reliability / resolution /
    uncertainty decomposition for the purchase-vs-view frame, treating
    the max-normalized score as the forecast probability: Brier =
    mean (f−y)², reliability = how far bin forecasts sit from bin
    outcomes (calibration error — the one number q_ml_calibration's
    table summarizes), resolution = how much the bins separate
    outcomes, uncertainty = base-rate variance. Everything is
    milli-scaled integer arithmetic with floor divisions applied
    identically on both engines (terms are squares, so non-negative
    throughout), making the whole decomposition hash-exact.

    Scale shape: one narrow map against a 1-row broadcast max, one
    global + one {BRIER_BINS}-bin conditional aggregate, control-plane
    arithmetic after."""
    e = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    ).select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        cents(F.col("value")).alias("vc"),
    )
    mx = e.agg(F.max("vc").cast("long").alias("m"))
    f = e.crossJoin(F.broadcast(mx)).select(
        "y", F.expr("CAST(vc * 1000 DIV (m + 1) AS BIGINT)").alias("fm")
    )
    g = f.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("CAST(1000 * sum(y) DIV count(*) AS BIGINT)").alias("obar"),
        F.expr(
            "CAST(sum((fm - 1000 * y) * (fm - 1000 * y)) DIV count(*) AS BIGINT)"
        ).alias("brier_micro"),
    )
    b = f.groupBy(
        F.expr(f"least(fm DIV {1000 // BRIER_BINS}, {BRIER_BINS - 1})").alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("nk"),
        F.expr("CAST(sum(fm) DIV count(*) AS BIGINT)").alias("fbar"),
        F.expr("CAST(1000 * sum(y) DIV count(*) AS BIGINT)").alias("obark"),
    )
    return (
        b.crossJoin(F.broadcast(g))
        .groupBy("n", "obar", "brier_micro")
        .agg(
            F.expr(
                "CAST(sum(nk * (fbar - obark) * (fbar - obark)) DIV n"
                " AS BIGINT)"
            ).alias("reliability_micro"),
            F.expr(
                "CAST(sum(nk * (obark - obar) * (obark - obar))"
                " DIV n AS BIGINT)"
            ).alias("resolution_micro"),
        )
        .select(
            "n",
            F.col("obar").alias("base_rate_milli"),
            "brier_micro",
            "reliability_micro",
            "resolution_micro",
            F.expr("CAST(obar * (1000 - obar) AS BIGINT)").alias(
                "uncertainty_micro"
            ),
        )
    )


_WOW_ORACLE = f"""
    WITH d AS ({_DAY_SERIES_SQL}),
    l AS (
      SELECT a.event_type, a.day, a.vc, b.vc AS prev_vc
      FROM d a JOIN d b
        ON b.event_type = a.event_type AND b.day = a.day - 7
    )
    SELECT event_type, day, CAST(vc AS BIGINT) AS vc,
           CAST(prev_vc AS BIGINT) AS prev_vc,
           CAST(vc - prev_vc AS BIGINT) AS delta_cents,
           CAST(((vc - prev_vc) * 1000000 + 2000000 * prev_vc)
                // prev_vc - 2000000 AS BIGINT) AS wow_growth_ppm
    FROM l WHERE prev_vc > 0
"""


@query("q_ts_wow_growth", _WOW_ORACLE)
def q_ts_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth per event-type daily series: each day is
    joined to the SAME WEEKDAY one week earlier (a calendar-key
    equi-join, not a 7-row lag — gaps in the spine can make row-offset
    lags compare different weekdays, the classic WoW bug) and the
    growth is exact ppm against the prior week. The plain BI growth
    metric next to q_ts_decompose (which removes the weekly cycle this
    key deliberately aligns with); growth can be negative — the ppm
    numerator (vc − prev_vc) keeps its sign against a strictly
    positive denominator — and integer division of a NEGATIVE
    numerator is exactly where engines disagree (both Spark's DIV and
    DuckDB's // truncate toward zero, but not all engines do, and the
    two were measured to differ by one ulp on this very key), so BOTH
    sides apply the offset identity floor((x + K·d)/d) − K, which
    makes the divided quantity non-negative and the result a true
    floor on any engine. Growth is therefore floor-ppm by definition,
    identically computed.

    Scale shape: one spine aggregate, one self-equi-join on
    (event_type, day−7) — keyed, spine-sized."""
    d = (
        t(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.sum(cents(F.col("value"))).cast("long").alias("vc"))
    )
    prev = d.select(
        "event_type",
        F.date_add(F.col("day"), 7).alias("day"),
        F.col("vc").alias("prev_vc"),
    )
    j = d.join(prev, ["event_type", "day"]).where(F.col("prev_vc") > 0)
    # Offset identity: growth >= -100% = -1e6 ppm, so K = 2e6 already
    # makes the numerator non-negative (and K*prev_vc stays ~1e13 at
    # the 10x probe — the first K = 1e12 choice overflowed BIGINT
    # there, caught by the probe).
    off = 2_000_000
    return j.select(
        "event_type",
        "day",
        "vc",
        "prev_vc",
        (F.col("vc") - F.col("prev_vc")).alias("delta_cents"),
        F.expr(
            f"CAST(((vc - prev_vc) * 1000000 + {off} * prev_vc) DIV prev_vc"
            f" - {off} AS BIGINT)"
        ).alias("wow_growth_ppm"),
    )


# Holt state packing: one BIGINT carries (level, trend), both offset
# non-negative so floor (//) and truncation (DIV) agree on every
# intermediate. B = 2^32 field width, H = 2^31 offset, K = 2^40 the
# floor-identity offset for the halving steps.
HOLT_B = 1 << 32
HOLT_H = 1 << 31   # trend-field offset (low 32 bits)
HOLT_HL = 1 << 29  # level-field offset (high bits): (l + 2^29) * 2^32
#   stays under 2^62 for any |level| < 2^29 dollars (~5e8 — three
#   orders above the 10x-probe daily spine), where a 2^31 offset would
#   overflow BIGINT at pack time.
HOLT_K = 1 << 40


def _holt_pack_guard(pack: str, div: str, err_fn: str) -> str:
    """Wrap a pack expression so out-of-band values FAIL LOUDLY
    (ADVICE r8): without the guard a |level| >= 2^29-dollar day or a
    |trend| >= 2^31 would silently wrap into the neighboring bit
    field — and identically on both engines, so the differential hash
    would stay green around a wrong statistic. Applied at input pack
    time (sufficient: the recursion is a contraction — level stays
    inside the input range and |trend| <= the level range, so in-band
    inputs keep the whole fold in-band) and re-checked on the folded
    state before unpacking."""
    return (
        f"CASE WHEN (vc {div} 100) > -{HOLT_HL} AND (vc {div} 100) < {HOLT_HL}"
        f" THEN {pack} ELSE CAST({err_fn}("
        f"'q_ts_holt: daily level out of packing band (|dollars| >= 2^29)'"
        f") AS BIGINT) END"
    )


def _holt_state_guard(var: str, div: str, err_fn: str) -> str:
    """Post-fold band check on the packed state (see _holt_pack_guard)."""
    lvl = f"({var} {div} {HOLT_B} - {HOLT_HL})"
    trd = f"({var} % {HOLT_B} - {HOLT_H})"
    return (
        f"CASE WHEN {lvl} > -{HOLT_HL} AND {lvl} < {HOLT_HL}"
        f" AND {trd} > -{HOLT_H} AND {trd} < {HOLT_H}"
        f" THEN {var} ELSE CAST({err_fn}("
        f"'q_ts_holt: folded state out of packing band'"
        f") AS BIGINT) END"
    )


def _holt_lambda(div: str) -> str:
    """The (acc, x) -> packed-state fold body, identical text on both
    engines apart from the integer-division spelling. A SCALAR
    accumulator is load-bearing: DuckDB's list_reduce evaluates struct
    fields against a sequentially-mutated accumulator (measured: a
    later field referencing acc.l sees the NEW level), so a struct
    state cannot be spelled engine-identically — one packed BIGINT
    side-steps the semantics entirely."""
    b, h, hl, k, k2 = HOLT_B, HOLT_H, HOLT_HL, HOLT_K, 2 * HOLT_K
    lp = f"(acc {div} {b} - {hl})"   # previous level
    bp = f"(acc % {b} - {h})"        # previous trend
    y = f"(x {div} {b} - {hl})"      # this day's value
    lv = f"(({y} + {lp} + {bp} + {k2}) {div} 2 - {k})"
    bv = f"(({lv} - {lp} + {bp} + {k2}) {div} 2 - {k})"
    return f"(acc, x) -> ({lv} + {hl}) * {b} + ({bv} + {h})"


def _holt_oracle() -> str:
    pack = _holt_pack_guard(
        f"(vc // 100 + {HOLT_HL}) * {HOLT_B} + {HOLT_H}", "//", "error"
    )
    return f"""
    WITH d AS ({_DAY_SERIES_SQL}),
    arr AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_days,
             list({pack} ORDER BY day) AS a
      FROM d GROUP BY event_type
    ),
    st AS (
      SELECT event_type, n_days,
             {_holt_state_guard("s0", "//", "error")} AS s
      FROM (
        SELECT event_type, n_days,
               list_reduce(a, {_holt_lambda("//")}) AS s0
        FROM arr
      )
    )
    SELECT event_type, n_days,
           CAST(s // {HOLT_B} - {HOLT_HL} AS BIGINT) AS level_dollars,
           CAST(s % {HOLT_B} - {HOLT_H} AS BIGINT) AS trend_dollars,
           CAST((s // {HOLT_B} - {HOLT_HL}) + (s % {HOLT_B} - {HOLT_H})
                AS BIGINT) AS forecast_1d_dollars,
           CAST((s // {HOLT_B} - {HOLT_HL}) + 3 * (s % {HOLT_B} - {HOLT_H})
                AS BIGINT) AS forecast_3d_dollars
    FROM st
    """


@query("q_ts_holt", _holt_oracle())
def q_ts_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing (level + trend, α=β=1/2) over
    each event type's daily revenue series, with 1-day and 3-day-ahead
    linear forecasts — the trend-aware upgrade of q_ts_ewma (which
    smooths level only) and the forecasting complement of
    q_ts_seasonal's seasonal-naive backtest.

    Exactness: the recursion l' = ⌊(y+l+b)/2⌋, b' = ⌊(l'−l+b)/2⌋ is
    DEFINED with a floor at every step and run as a fold over the
    day-ordered series, state packed into ONE BIGINT — (level+2²⁹)·2³²
    + (trend+2³¹) — because (a) DuckDB's list_reduce mutates a struct
    accumulator between field evaluations (measured; a two-field state
    diverges) and (b) the offsets keep every divided operand
    non-negative, making Spark's truncating DIV and DuckDB's flooring
    // agree. Values are whole dollars (vc // 100), bounding the
    packed level well under the 2³¹ field at the 100x probe. Band
    membership is ENFORCED, not assumed (ADVICE r8): each packed input
    and the folded state pass a guard that raises on |level| ≥ 2²⁹ or
    |trend| ≥ 2³¹ on both engines, so a corpus large enough to wrap a
    bit field fails loudly instead of hashing green on wrapped values.

    Scale shape: the corpus collapses to the (event_type, day) spine
    first (keyed map-side-combined hash agg); the fold runs per event
    type over the bounded calendar array — series-length work, corpus-
    independent. The fold is the honest form for an order-dependent
    recurrence: no window spelling exists (each output depends on the
    previous OUTPUT, not previous input), so this is aggregate-HOF
    territory by construction, still JVM-side codegen."""
    d = (
        t(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.sum(cents(F.col("value"))).cast("long").alias("vc"))
    )
    pack = _holt_pack_guard(
        f"(vc DIV 100 + {HOLT_HL}) * {HOLT_B} + {HOLT_H}", "DIV", "raise_error"
    )
    arr = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.expr(
            f"transform(array_sort(collect_list(struct(day, {pack} AS p))),"
            " e -> e.p)"
        ).alias("a"),
    )
    st = arr.select(
        "event_type",
        "n_days",
        F.expr(
            f"aggregate(slice(a, 2, size(a)), a[0],"
            f" {_holt_lambda('DIV')})"
        ).alias("s0"),
    ).selectExpr(
        "event_type",
        "n_days",
        f"{_holt_state_guard('s0', 'DIV', 'raise_error')} AS s",
    )
    return st.select(
        "event_type",
        "n_days",
        F.expr(f"CAST(s DIV {HOLT_B} - {HOLT_HL} AS BIGINT)").alias(
            "level_dollars"
        ),
        F.expr(f"CAST(s % {HOLT_B} - {HOLT_H} AS BIGINT)").alias(
            "trend_dollars"
        ),
        F.expr(
            f"CAST((s DIV {HOLT_B} - {HOLT_HL}) + (s % {HOLT_B} - {HOLT_H})"
            " AS BIGINT)"
        ).alias("forecast_1d_dollars"),
        F.expr(
            f"CAST((s DIV {HOLT_B} - {HOLT_HL}) + 3 * (s % {HOLT_B} - {HOLT_H})"
            " AS BIGINT)"
        ).alias("forecast_3d_dollars"),
    )


# --- ROC curve table (round 9) ------------------------------------------

ROC_THR_STEP = 1_000  # cent thresholds 1000..9000 (10$..90$)
ROC_THR_MAX = 9_000


_ROC_ORACLE = f"""
    WITH pts AS (
      SELECT {sql_cents("value")} AS c,
             CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END)
               AS BIGINT) AS p,
             CAST(count(CASE WHEN event_type = 'view' THEN 1 END)
               AS BIGINT) AS n
      FROM events WHERE event_type IN ('purchase', 'view')
      GROUP BY 1
    ),
    thr AS (
      SELECT unnest(generate_series({ROC_THR_STEP}, {ROC_THR_MAX},
                                    {ROC_THR_STEP})) AS thr_cents
    ),
    cm AS (
      SELECT t.thr_cents,
             CAST(sum(CASE WHEN pts.c >= t.thr_cents THEN pts.p ELSE 0 END)
               AS BIGINT) AS tp,
             CAST(sum(CASE WHEN pts.c < t.thr_cents THEN pts.p ELSE 0 END)
               AS BIGINT) AS fn,
             CAST(sum(CASE WHEN pts.c >= t.thr_cents THEN pts.n ELSE 0 END)
               AS BIGINT) AS fp,
             CAST(sum(CASE WHEN pts.c < t.thr_cents THEN pts.n ELSE 0 END)
               AS BIGINT) AS tn
      FROM pts CROSS JOIN thr t
      GROUP BY t.thr_cents
    )
    SELECT CAST(thr_cents AS BIGINT) AS thr_cents, tp, fn, fp, tn,
           CAST(tp * 1000000 // nullif(tp + fn, 0) AS BIGINT) AS tpr_ppm,
           CAST(fp * 1000000 // nullif(fp + tn, 0) AS BIGINT) AS fpr_ppm,
           CAST(tp * 1000000 // nullif(tp + fp, 0) AS BIGINT)
             AS precision_ppm
    FROM cm
"""


@query("q_ml_roc_curve", _ROC_ORACLE)
def q_ml_roc_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC curve TABLE — the threshold sweep behind q_ml_auc's scalar:
    for every fixed cent threshold ({ROC_THR_STEP}..{ROC_THR_MAX} step
    {ROC_THR_STEP}), the full confusion quadrant (score = value,
    positives = purchases, negatives = views, predict-positive =
    score >= threshold) with exact-ppm TPR / FPR / precision. This is
    the operating-point picker the scalar AUC cannot be: q_ml_auc says
    whether the score ranks at all, q_ml_confusion evaluates ONE
    chosen threshold, this key lays out the whole frontier so the
    threshold choice is read off a table (the eval-family closer next
    to calibration and lift).

    Exactness: the corpus collapses to the bounded cent domain first
    (the q_ml_auc / q_stats_ks shape), quadrants are exact integer
    conditional sums against a 9-row broadcast threshold spine, and
    every rate is an exact floor-divided ppm with nullif guards (a
    threshold above every score yields NULL precision identically on
    both engines).

    Scale shape: ONE map-side-combined aggregate to the cent domain,
    then domain x 9 thresholds (bounded work independent of corpus
    size), one 9-group aggregate. The corpus is scanned once; nothing
    sorts."""
    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    pts = ev.groupBy(cents(F.col("value")).alias("c")).agg(
        F.count(F.when(F.col("event_type") == "purchase", 1)).cast("long").alias("p"),
        F.count(F.when(F.col("event_type") == "view", 1)).cast("long").alias("n"),
    )
    thr = constants(
        spark,
        "thr_cents long",
        [(x,) for x in range(ROC_THR_STEP, ROC_THR_MAX + 1, ROC_THR_STEP)],
    )
    at_or_above = F.col("c") >= F.col("thr_cents")
    cm = (
        pts.crossJoin(thr)
        .groupBy("thr_cents")
        .agg(
            F.sum(F.when(at_or_above, F.col("p")).otherwise(0)).cast("long").alias("tp"),
            F.sum(F.when(~at_or_above, F.col("p")).otherwise(0)).cast("long").alias("fn"),
            F.sum(F.when(at_or_above, F.col("n")).otherwise(0)).cast("long").alias("fp"),
            F.sum(F.when(~at_or_above, F.col("n")).otherwise(0)).cast("long").alias("tn"),
        )
    )
    return cm.select(
        "thr_cents",
        "tp",
        "fn",
        "fp",
        "tn",
        F.expr("CAST(tp * 1000000 DIV nullif(tp + fn, 0) AS BIGINT)").alias(
            "tpr_ppm"
        ),
        F.expr("CAST(fp * 1000000 DIV nullif(fp + tn, 0) AS BIGINT)").alias(
            "fpr_ppm"
        ),
        F.expr("CAST(tp * 1000000 DIV nullif(tp + fp, 0) AS BIGINT)").alias(
            "precision_ppm"
        ),
    )


# --- Mann-Whitney U rank-sum test (round 10) ------------------------------

_MWU_Z = (
    "round((CAST(u_x2 - n1 * n2 AS DOUBLE) / 2.0)"
    " / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0"
    "        * (CAST(n1 + n2 + 1 AS DOUBLE)"
    "           - CAST(ties AS DOUBLE)"
    "             / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE)))),"
    " 4)"
)

_MWU_ORACLE = f"""
    WITH f AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g,
             {sql_cents("value")} AS vc
      FROM events WHERE event_type IN ('purchase', 'view')
    ),
    cnt AS (
      SELECT vc, CAST(count(*) AS BIGINT) AS c, CAST(sum(g) AS BIGINT) AS c1
      FROM f GROUP BY vc
    ),
    cum AS (
      SELECT vc, c, c1,
             CAST(coalesce(sum(c) OVER (ORDER BY vc
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS clt
      FROM cnt
    ),
    agg AS (
      SELECT CAST(sum(c1) AS BIGINT) AS n1,
             CAST(sum(c - c1) AS BIGINT) AS n2,
             CAST(sum(c1 * (2 * clt + c + 1)) AS BIGINT) AS r1_x2,
             CAST(sum(c * c * c - c) AS BIGINT) AS ties
      FROM cum
    ),
    u AS (
      SELECT n1, n2, ties,
             CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT) AS u_x2
      FROM agg
    )
    SELECT n1 AS n_purchase, n2 AS n_view, u_x2, ties AS tie_correction,
           {_MWU_Z} AS z
    FROM u
"""


@query("q_stats_mannwhitney", _MWU_ORACLE)
def q_stats_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test (Mann & Whitney 1947), purchase vs
    view event values: the NONPARAMETRIC two-sample test the stats tier
    was missing — q_stats_ttest compares means and assumes rough
    normality; U compares the whole distributions through ranks and is
    the test you actually reach for on heavy-tailed value data. Ranks
    use the midrank (average) convention for ties; z carries the full
    tie correction Σ(t³−t)/(N(N−1)).

    Exactness: everything up to z is exact integer arithmetic on the
    cent census — 2x the rank sum is integral even with midranks
    (2·avgrank(v) = 2·count(<v) + count(=v) + 1), so u_x2 = 2U₁ is an
    exact BIGINT; the tie term Σ(t³−t) likewise. z is computed in one
    identical expression on both engines (IEEE divides/multiplies of
    exact integers + one correctly-rounded sqrt) then 4-dp rounded.
    Overflow: the variance product is evaluated in doubles — the exact
    integer form n1·n2·((N+1)N(N−1) − Σ(t³−t)) exceeds int64 at corpus
    scale, while the double form is bit-deterministic regardless.
    The tie term itself carries an explicit int64 budget (ADVICE r10,
    the Gramian-note pattern): Σ(t³−t) is exact while every per-value
    tie group stays under t < 2,097,152 rows AND the sum stays under
    2^63 (≈9.2e18 micro-units — >2000 maximal tie groups of 2M rows
    each). Within budget both engines agree bit-for-bit; beyond it
    DuckDB raises on BIGINT overflow while Spark wraps silently — a
    double SUM over the census would instead introduce cross-engine
    fold-order divergence, strictly worse, so the exact form + budget
    is the deliberate choice (tests/test_properties.py pins fixture
    headroom ≥1000x under both bounds).

    Scale shape: one event scan into a cent-value census (map-side
    combined; the domain is bounded cents, q_ml_roc_curve's argument),
    one running-count window over the DISTINCT-VALUE census (domain-
    sized, not corpus-sized), one 1-row aggregate. At 100 TB the only
    corpus-sized stage is the first hash agg."""
    f = (
        t(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "view"))
        .select(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("g"),
            cents(F.col("value")).alias("vc"),
        )
    )
    cnt = f.groupBy("vc").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum("g").cast("long").alias("c1"),
    )
    wlt = Window.orderBy("vc").rowsBetween(Window.unboundedPreceding, -1)
    cum = cnt.withColumn(
        "clt", F.coalesce(F.sum("c").over(wlt), F.lit(0)).cast("long")
    )
    agg = cum.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum(F.col("c") - F.col("c1")).cast("long").alias("n2"),
        F.sum(F.col("c1") * (2 * F.col("clt") + F.col("c") + 1))
        .cast("long")
        .alias("r1_x2"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("long")
        .alias("ties"),
    )
    u = agg.select(
        "n1",
        "n2",
        "ties",
        F.expr("CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT)").alias("u_x2"),
    )
    return u.select(
        F.col("n1").alias("n_purchase"),
        F.col("n2").alias("n_view"),
        "u_x2",
        F.col("ties").alias("tie_correction"),
        F.expr(_MWU_Z).alias("z"),
    )


# --- average precision / PR-AUC (round 10) ---------------------------------

_AP_ORACLE = f"""
    WITH f AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g,
             {sql_cents("value")} AS vc
      FROM events WHERE event_type IN ('purchase', 'view')
    ),
    cnt AS (
      SELECT vc, CAST(count(*) AS BIGINT) AS c, CAST(sum(g) AS BIGINT) AS c1
      FROM f GROUP BY vc
    ),
    cum AS (
      SELECT vc, c, c1,
             CAST(sum(c) OVER (ORDER BY vc DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_n,
             CAST(sum(c1) OVER (ORDER BY vc DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_pos
      FROM cnt
    ),
    tot AS (SELECT CAST(sum(c1) AS BIGINT) AS p,
                   CAST(sum(c - c1) AS BIGINT) AS neg,
                   CAST(count(*) AS BIGINT) AS nthr
            FROM cnt)
    SELECT tot.p AS n_pos, tot.neg AS n_neg, tot.nthr AS n_thresholds,
           CAST(sum(c1 * cum_pos * 1000000 // cum_n) // nullif(tot.p, 0)
             AS BIGINT) AS ap_ppm
    FROM cum CROSS JOIN tot
    GROUP BY tot.p, tot.neg, tot.nthr
"""


@query("q_ml_average_precision", _AP_ORACLE)
def q_ml_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (area under the precision-recall curve by the
    step-wise sum, the scikit-learn AP definition): AP = Σ_k P(k)·ΔR(k)
    over score thresholds descending — the imbalanced-class companion
    to q_ml_auc (ROC-AUC is blind to base rate; PR-AUC is what you
    read when positives are rare, which is every retrieval / quality-
    filter tuning task). Scores are event value cents, positives are
    purchases vs views (q_ml_auc's framing).

    Exactness: the bounded-cent-domain census recipe — per distinct
    score v (descending): ΔR numerator c1_v and precision cum_pos/cum_n
    from exact running sums; each term is floored ONCE at ppm scale
    (c1·cum_pos·1e6 // cum_n, exact BIGINT — |c1·cum_pos| ≤ P·N keeps
    1e6-scaled products under int64 at every probed scale), summed
    exactly, divided once by P. Identical floor points on both engines.
    The final divide guards P with nullif(P, 0) on BOTH engines (the
    q_text_fertility / q_ml_roc_curve convention, ADVICE r10): with
    zero positives the result is a uniform NULL rather than a DuckDB
    division-by-zero error vs a Spark NULL asymmetry.

    Scale shape: one event scan into a cent census (map-side combined,
    bounded domain), one running-sum window over the DISTINCT-value
    census (domain-sized, q_ml_roc_curve's argument), one 1-row
    aggregate."""
    f = (
        t(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "view"))
        .select(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("g"),
            cents(F.col("value")).alias("vc"),
        )
    )
    cnt = f.groupBy("vc").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum("g").cast("long").alias("c1"),
    )
    wd = Window.orderBy(F.desc("vc")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = cnt.select(
        "vc",
        "c",
        "c1",
        F.sum("c").over(wd).cast("long").alias("cum_n"),
        F.sum("c1").over(wd).cast("long").alias("cum_pos"),
    )
    tot = cnt.agg(
        F.sum("c1").cast("long").alias("p"),
        F.sum(F.col("c") - F.col("c1")).cast("long").alias("neg"),
        F.count(F.lit(1)).cast("long").alias("nthr"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("p", "neg", "nthr")
        .agg(
            F.expr(
                "CAST(sum(c1 * cum_pos * 1000000 DIV cum_n)"
                " DIV nullif(p, 0) AS BIGINT)"
            ).alias("ap_ppm")
        )
        .select(
            F.col("p").alias("n_pos"),
            F.col("neg").alias("n_neg"),
            F.col("nthr").alias("n_thresholds"),
            "ap_ppm",
        )
    )


# --- robust MAD outlier census (round 10) ----------------------------------

MAD_K = 3  # flag |x - median| > K * MAD (the classic robust z cut)

_MAD_ORACLE = f"""
    WITH f AS (
      SELECT event_type, {sql_cents("value")} AS vc FROM events
    ),
    cnt AS (
      SELECT event_type, vc, CAST(count(*) AS BIGINT) AS c
      FROM f GROUP BY event_type, vc
    ),
    cum AS (
      SELECT event_type, vc, c,
             CAST(sum(c) OVER (PARTITION BY event_type ORDER BY vc
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cm
      FROM cnt
    ),
    nt AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n
           FROM cnt GROUP BY event_type),
    med AS (
      SELECT cum.event_type, CAST(min(vc) AS BIGINT) AS med
      FROM cum JOIN nt ON nt.event_type = cum.event_type
      WHERE cum.cm >= (nt.n + 1) // 2
      GROUP BY cum.event_type
    ),
    dev AS (
      SELECT cnt.event_type, abs(cnt.vc - med.med) AS dv, cnt.c
      FROM cnt JOIN med ON med.event_type = cnt.event_type
    ),
    dcnt AS (
      SELECT event_type, dv, CAST(sum(c) AS BIGINT) AS c
      FROM dev GROUP BY event_type, dv
    ),
    dcum AS (
      SELECT event_type, dv, c,
             CAST(sum(c) OVER (PARTITION BY event_type ORDER BY dv
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cm
      FROM dcnt
    ),
    mad AS (
      SELECT dcum.event_type, CAST(min(dv) AS BIGINT) AS mad
      FROM dcum JOIN nt ON nt.event_type = dcum.event_type
      WHERE dcum.cm >= (nt.n + 1) // 2
      GROUP BY dcum.event_type
    )
    SELECT nt.event_type, nt.n AS n_events, med.med AS median_cents,
           mad.mad AS mad_cents,
           CAST(coalesce(sum(CASE WHEN dev.dv > {MAD_K} * mad.mad
                                  THEN dev.c ELSE 0 END), 0) AS BIGINT)
             AS n_outliers,
           CAST(coalesce(sum(CASE WHEN dev.dv > {MAD_K} * mad.mad
                                  THEN dev.c ELSE 0 END), 0)
                * 1000000 // nt.n AS BIGINT) AS outlier_ppm
    FROM nt
    JOIN med ON med.event_type = nt.event_type
    JOIN mad ON mad.event_type = nt.event_type
    JOIN dev ON dev.event_type = nt.event_type
    GROUP BY nt.event_type, nt.n, med.med, mad.mad
"""


@query("q_ts_mad_outliers", _MAD_ORACLE)
def q_ts_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier census per event type: median / MAD (median
    absolute deviation) and the count of values beyond {MAD_K}·MAD —
    the robust twin of q_ts_zscore. Mean/stddev z-scores are dragged by
    the very outliers they hunt (one 1000x spike inflates σ and hides
    its siblings); the median/MAD cut has a 50 % breakdown point and is
    the production anomaly gate on heavy-tailed value streams.
    (q_agg_mad is the lineitem-quantity sibling built on the engines'
    own median() over a tiny distinct domain; this key's medians are
    LOWER medians BY RANK over the cent census — the form that stays
    integer-exact when the value domain is large and tie-heavy.)

    Exactness: medians are LOWER medians by rank (smallest value whose
    running census count reaches ceil(n/2)) — integer-exact and
    identical on both engines, no midpoint averaging; MAD is the same
    statistic over the |x − med| census; every count and ppm is exact
    BIGINT. A degenerate type (MAD = 0) flags every value off the
    median — deterministic, documented, identical.

    Scale shape: one event scan into a (type, cent) census — from there
    EVERYTHING is census-sized (bounded cent domain): two running-count
    windows partitioned by type, two rank-threshold lookups, one rollup.
    The corpus is touched once at 100 TB."""
    f = t(spark, sf_dir, "events").select(
        "event_type", cents(F.col("value")).alias("vc")
    )
    cnt = f.groupBy("event_type", "vc").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("vc")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = cnt.withColumn("cm", F.sum("c").over(wc).cast("long"))
    nt = cnt.groupBy("event_type").agg(F.sum("c").cast("long").alias("n"))
    med = (
        cum.join(nt, "event_type")
        .where(F.expr("cm >= (n + 1) DIV 2"))
        .groupBy("event_type")
        .agg(F.min("vc").cast("long").alias("med"))
    )
    dev = cnt.join(med, "event_type").select(
        "event_type", F.abs(F.col("vc") - F.col("med")).alias("dv"), "c"
    )
    dcnt = dev.groupBy("event_type", "dv").agg(F.sum("c").cast("long").alias("c"))
    wd = (
        Window.partitionBy("event_type")
        .orderBy("dv")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dcum = dcnt.withColumn("cm", F.sum("c").over(wd).cast("long"))
    mad = (
        dcum.join(nt, "event_type")
        .where(F.expr("cm >= (n + 1) DIV 2"))
        .groupBy("event_type")
        .agg(F.min("dv").cast("long").alias("mad"))
    )
    out = F.sum(
        F.when(F.col("dv") > MAD_K * F.col("mad"), F.col("c")).otherwise(0)
    ).cast("long")
    return (
        nt.join(med, "event_type")
        .join(mad, "event_type")
        .join(dev, "event_type")
        .groupBy("event_type", "n", "med", "mad")
        .agg(
            F.coalesce(out, F.lit(0)).alias("n_outliers"),
            F.expr(
                "CAST(coalesce(sum(CASE WHEN dv > "
                f"{MAD_K} * mad THEN c ELSE 0 END), 0)"
                " * 1000000 DIV n AS BIGINT)"
            ).alias("outlier_ppm"),
        )
        .select(
            "event_type",
            F.col("n").alias("n_events"),
            F.col("med").alias("median_cents"),
            F.col("mad").alias("mad_cents"),
            "n_outliers",
            "outlier_ppm",
        )
    )


# --- Kruskal-Wallis H rank test (round 11) ----------------------------------

# The quantized-term trick: H needs a SUM over the k groups of the
# double quantity n_i * (mean_rank_i - grand_mean)^2, and a raw double
# SUM over an unordered group-by is fold-order-dependent across
# engines. Each group's term is therefore computed in ONE identical
# double expression from exact integers and floored ONCE at micro
# scale; the cross-group SUM is then integer arithmetic — order-free
# on both engines. (x 250000 = 1e6 / 4: the /4 folds the midrank
# doubling r2 = 2*R out of the squared deviation.)
_KW_TERM = (
    "CAST(floor("
    "(CAST(r2_i AS DOUBLE) / CAST(n_i AS DOUBLE)"
    " - CAST(n + 1 AS DOUBLE))"
    " * (CAST(r2_i AS DOUBLE) / CAST(n_i AS DOUBLE)"
    " - CAST(n + 1 AS DOUBLE))"
    " * CAST(n_i AS DOUBLE) * 250000.0"
    ") AS BIGINT)"
)

_KW_H = (
    "round(12.0 * CAST(sum_term_q AS DOUBLE) / 1000000.0"
    " / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)), 4)"
)

# The tie-correction denominator 1 - tie_term/(N^3-N) hits exactly 0 in
# the degenerate all-values-identical case (tie_term == N^3-N); nullif
# makes that a uniform NULL on both engines instead of an
# engine-dependent Inf/NaN canonicalization (ADVICE r11).
_KW_HC = (
    "round((12.0 * CAST(sum_term_q AS DOUBLE) / 1000000.0"
    " / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)))"
    " / nullif(1.0 - CAST(tie_term AS DOUBLE)"
    " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
    " - CAST(n AS DOUBLE)), 0.0), 4)"
)

_KW_ORACLE = f"""
    WITH f AS (
      SELECT event_type AS g, {sql_cents("value")} AS vc FROM events
    ),
    gc AS (SELECT g, vc, CAST(count(*) AS BIGINT) AS cg FROM f GROUP BY g, vc),
    vc_c AS (SELECT vc, CAST(sum(cg) AS BIGINT) AS c FROM gc GROUP BY vc),
    cum AS (
      SELECT vc, c,
             CAST(coalesce(sum(c) OVER (ORDER BY vc
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS clt
      FROM vc_c
    ),
    r AS (
      SELECT gc.g, CAST(sum(gc.cg) AS BIGINT) AS n_i,
             CAST(sum(gc.cg * (2 * cum.clt + cum.c + 1)) AS BIGINT) AS r2_i
      FROM gc JOIN cum ON cum.vc = gc.vc
      GROUP BY gc.g
    ),
    tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(c * c * c - c) AS BIGINT) AS tie_term
      FROM vc_c
    ),
    terms AS (
      SELECT r.g, r.n_i, r.r2_i, {_KW_TERM} AS term_q
      FROM r, tot
    ),
    h AS (
      SELECT CAST(count(*) AS BIGINT) AS n_groups,
             CAST(sum(term_q) AS BIGINT) AS sum_term_q
      FROM terms
    )
    SELECT h.n_groups, tot.n AS n_total, tot.tie_term, h.sum_term_q,
           {_KW_H} AS h4, {_KW_HC} AS hc4
    FROM h, tot
"""


@query("q_stats_kruskal", _KW_ORACLE)
def q_stats_kruskal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H rank test (Kruskal & Wallis 1952) across ALL
    event types: the k-sample extension of q_stats_mannwhitney — the
    nonparametric one-way test you reach for when q_stats_anova's
    normality assumption is indefensible on heavy-tailed value data
    and there are more than two groups. Midrank (average) tie
    convention; hc4 carries the full tie correction
    H / (1 − Σ(t³−t)/(N³−N)).

    Exactness: per-group 2x rank sums are exact BIGINT over the cent
    census (2·avgrank(v) = 2·count(<v) + count(=v) + 1, the
    q_stats_mannwhitney identity); each group's deviation term
    n_i·(r̄_i − (N+1)/2)² is ONE identical double expression from those
    exact integers, floored ONCE at micro scale, so the cross-group sum
    is order-free integer arithmetic (see _KW_TERM) — never a raw
    double SUM over an unordered group. sum_term_q is emitted for the
    invariant test to recompute H end-to-end. Int64 budgets (the
    q_stats_mannwhitney pattern): the rank-sum accumulators stay exact
    while N < ~2.1e9 rows and the tie term while every per-value tie
    group stays under 2.09M rows; the N³ in the tie correction is
    evaluated in doubles (bit-deterministic in fixed textual order).

    Scale shape: one event scan into a (type, cent) census (map-side
    combined, bounded domain), a value-census running-count window
    (domain-sized), one census-sized join + per-group agg (k rows), a
    1-row total — the q_stats_mannwhitney plan generalized to k groups;
    nothing past the first hash agg is corpus-sized."""
    f = t(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"), cents(F.col("value")).alias("vc")
    )
    gc = f.groupBy("g", "vc").agg(F.count(F.lit(1)).cast("long").alias("cg"))
    vc_c = gc.groupBy("vc").agg(F.sum("cg").cast("long").alias("c"))
    wlt = Window.orderBy("vc").rowsBetween(Window.unboundedPreceding, -1)
    cum = vc_c.withColumn(
        "clt", F.coalesce(F.sum("c").over(wlt), F.lit(0)).cast("long")
    )
    r = (
        gc.join(cum, "vc")
        .groupBy("g")
        .agg(
            F.sum("cg").cast("long").alias("n_i"),
            F.sum(F.col("cg") * (2 * F.col("clt") + F.col("c") + 1))
            .cast("long")
            .alias("r2_i"),
        )
    )
    tot = vc_c.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("long")
        .alias("tie_term"),
    )
    # 1-row broadcast total: the allowlisted share-of-total shape.
    terms = r.crossJoin(F.broadcast(tot)).select(
        "g", "n_i", "r2_i", "n", "tie_term", F.expr(_KW_TERM).alias("term_q")
    )
    # Group-less final agg (not groupBy(n, tie_term)): both engines then
    # emit exactly ONE row even on an empty events table (n_groups=0,
    # NULL n/tie_term/sums), matching the oracle's group-less `h` x
    # `tot` shape (ADVICE r11). n and tie_term ride along as min() —
    # single-valued on any non-empty input (every terms row carries the
    # same broadcast total), NULL on empty, and deterministic either
    # way; re-crossJoining tot here instead would replay the whole
    # census subtree a second time (+10 exchanges at plan audit).
    h = terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("n").alias("n"),
        F.min("tie_term").alias("tie_term"),
        F.sum("term_q").cast("long").alias("sum_term_q"),
    )
    return h.select(
        "n_groups",
        F.col("n").alias("n_total"),
        "tie_term",
        "sum_term_q",
        F.expr(_KW_H).alias("h4"),
        F.expr(_KW_HC).alias("hc4"),
    )


# --- Brown-Forsythe / Levene variance-homogeneity test (round 11) ----------

# Same determinism discipline as _KW_TERM: the between-group sum of
# squares needs SUM over k groups of a double quantity — each group's
# term is ONE identical double expression from exact integers, floored
# ONCE, so the cross-group SUM is order-free integers. UNIT scale, not
# micro: the SS magnitudes are >= 1e9 cent² even at sf0.001 (relative
# floor error < 1e-9, far inside the 4-dp round), and a 1e6 factor
# would push the within term past int64 at the 10x probe (SS ~1e12).
# The 1e6-vs-unit choice cancels out of F entirely (both terms share
# the scale).
_BF_BETWEEN = (
    "CAST(floor("
    "(CAST(s_i AS DOUBLE) / CAST(n_i AS DOUBLE)"
    " - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
    " * (CAST(s_i AS DOUBLE) / CAST(n_i AS DOUBLE)"
    " - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
    " * CAST(n_i AS DOUBLE)"
    ") AS BIGINT)"
)

# Within-group SS = sum(z^2) - S_i^2/n_i: S_i^2 exceeds int64 once a
# group's absolute-deviation total passes ~3e9 cent-units, so the
# subtraction runs in doubles per group and floors once (same budget
# rationale as the Kruskal-Wallis doc). Unit-scale floor keeps the
# integer sum inside int64 to ~9e18 cent² of within-group SS (~sf1000
# at fixture density).
_BF_WITHIN = (
    "CAST(floor("
    "CAST(ss_i AS DOUBLE)"
    " - CAST(s_i AS DOUBLE) * CAST(s_i AS DOUBLE) / CAST(n_i AS DOUBLE)"
    ") AS BIGINT)"
)

# k=1 (single group) makes the n_groups-1 divisor 0; nullif turns the
# undefined F into a uniform NULL on both engines (ADVICE r11).
_BF_F = (
    "round((CAST(n - n_groups AS DOUBLE)"
    " / nullif(CAST(n_groups - 1 AS DOUBLE), 0.0))"
    " * (CAST(between_q AS DOUBLE) / nullif(CAST(within_q AS DOUBLE), 0.0)), 4)"
)

_BF_ORACLE = f"""
    WITH f AS (
      SELECT event_type AS g, {sql_cents("value")} AS vc FROM events
    ),
    cnt AS (
      SELECT g, vc, CAST(count(*) AS BIGINT) AS c FROM f GROUP BY g, vc
    ),
    cum AS (
      SELECT g, vc, c,
             CAST(sum(c) OVER (PARTITION BY g ORDER BY vc
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cm
      FROM cnt
    ),
    gn AS (SELECT g, CAST(sum(c) AS BIGINT) AS ng FROM cnt GROUP BY g),
    med AS (
      SELECT cum.g, CAST(min(vc) AS BIGINT) AS med
      FROM cum JOIN gn ON gn.g = cum.g
      WHERE cum.cm >= (gn.ng + 1) // 2
      GROUP BY cum.g
    ),
    z AS (
      SELECT cnt.g, abs(cnt.vc - med.med) AS zv, cnt.c
      FROM cnt JOIN med ON med.g = cnt.g
    ),
    gr AS (
      SELECT g, CAST(sum(c) AS BIGINT) AS n_i,
             CAST(sum(zv * c) AS BIGINT) AS s_i,
             CAST(sum(zv * zv * c) AS BIGINT) AS ss_i
      FROM z GROUP BY g
    ),
    tot AS (SELECT CAST(sum(n_i) AS BIGINT) AS n,
                   CAST(sum(s_i) AS BIGINT) AS s FROM gr),
    terms AS (
      SELECT gr.g, gr.n_i,
             {_BF_BETWEEN} AS bt_q,
             {_BF_WITHIN} AS wt_q
      FROM gr, tot
    ),
    h AS (
      SELECT CAST(count(*) AS BIGINT) AS n_groups,
             CAST(sum(bt_q) AS BIGINT) AS between_q,
             CAST(sum(wt_q) AS BIGINT) AS within_q
      FROM terms
    )
    SELECT h.n_groups, tot.n AS n_total, h.between_q, h.within_q,
           {_BF_F} AS f4
    FROM h, tot
"""


@query("q_stats_levene", _BF_ORACLE)
def q_stats_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test (Brown & Forsythe 1974; Levene's test with
    the MEDIAN center — the robust variant every stats package defaults
    to) for variance homogeneity across event types: the PREREQUISITE
    check for q_stats_anova — ANOVA's F assumes equal group variances,
    and this is the test that tells you whether that assumption holds
    on heavy-tailed value data. One-way ANOVA F computed on the
    absolute deviations z_ij = |x_ij − median(group j)|.

    Exactness: group medians are the LOWER-median-by-rank over the
    per-group cent census (q_ts_mad_outliers' integer recipe — no
    midpoint averaging), so deviations are exact integers; per-group
    Σz·c and Σz²·c are exact BIGINT. The between/within sums of squares
    each need cross-group SUMs of double quantities, so each group's
    term is ONE identical double expression floored ONCE at unit scale
    (the q_stats_kruskal order-free-sum discipline; see _BF_BETWEEN for
    why unit and not micro, and _BF_WITHIN for why S_i² must be doubles
    — int64 dies past ~3e9 cent-units of group deviation mass; the
    shared scale cancels out of F). F carries a nullif guard for
    the all-groups-constant degenerate case (within SS = 0 -> uniform
    NULL on both engines). between_q / within_q are emitted for the
    invariant test to recompute F.

    Scale shape: one event scan into a (type, cent) census (map-side
    combined, bounded domain), per-group running-count windows over the
    census (domain-sized) for medians, census-sized joins, k-row term
    table, 1-row total — the q_ts_mad_outliers plan with an F collapse;
    nothing past the first hash agg is corpus-sized."""
    f = t(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"), cents(F.col("value")).alias("vc")
    )
    cnt = f.groupBy("g", "vc").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wcm = Window.partitionBy("g").orderBy("vc").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = cnt.withColumn("cm", F.sum("c").over(wcm).cast("long"))
    gn = cnt.groupBy("g").agg(F.sum("c").cast("long").alias("ng"))
    med = (
        cum.join(gn, "g")
        .where(F.expr("cm >= (ng + 1) DIV 2"))
        .groupBy("g")
        .agg(F.min("vc").cast("long").alias("med"))
    )
    z = cnt.join(med, "g").select(
        "g", F.abs(F.col("vc") - F.col("med")).alias("zv"), "c"
    )
    gr = z.groupBy("g").agg(
        F.sum("c").cast("long").alias("n_i"),
        F.sum(F.col("zv") * F.col("c")).cast("long").alias("s_i"),
        F.sum(F.col("zv") * F.col("zv") * F.col("c")).cast("long").alias("ss_i"),
    )
    tot = gr.agg(
        F.sum("n_i").cast("long").alias("n"),
        F.sum("s_i").cast("long").alias("s"),
    )
    # 1-row broadcast total: the allowlisted share-of-total shape.
    terms = gr.crossJoin(F.broadcast(tot)).select(
        "g",
        "n_i",
        "n",
        F.expr(_BF_BETWEEN).alias("bt_q"),
        F.expr(_BF_WITHIN).alias("wt_q"),
    )
    # Group-less final agg with n riding along as min() (see
    # q_stats_kruskal): one row on both engines even for empty input,
    # identical otherwise, no replayed census subtree.
    h = terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("n").alias("n"),
        F.sum("bt_q").cast("long").alias("between_q"),
        F.sum("wt_q").cast("long").alias("within_q"),
    )
    return h.select(
        "n_groups",
        F.col("n").alias("n_total"),
        "between_q",
        "within_q",
        F.expr(_BF_F).alias("f4"),
    )
