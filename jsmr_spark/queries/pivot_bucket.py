"""Pivot / unpivot and bucketed co-located joins (round-1 addendum).

Pivot/unpivot close the reshaping surface (JsMr parity: a map that
re-keys records per metric — SURVEY.md §2.A A3). The bucketing key is
pure scale engineering: two fact tables bucketed+sorted on the join
key join with ZERO shuffle — at 100 TB this converts the dominant
exchange into a local merge per bucket, and the plan assertion is part
of the key's output so regressions surface in the driver run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jsmr_spark.compat import cents, sql_cents
from jsmr_spark.queries.common import t
from jsmr_spark.registry import query
from jsmr_spark.session import conf_override

_PRICE = sql_cents("l_extendedprice")


@query(
    "q_pivot",
    f"""
    SELECT l_returnflag,
           sum(CASE WHEN l_linestatus = 'F' THEN {_PRICE} END) / 100.0::DOUBLE AS status_f,
           sum(CASE WHEN l_linestatus = 'O' THEN {_PRICE} END) / 100.0::DOUBLE AS status_o,
           count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: linestatus values become columns (exact cents sums; the
    oracle is the portable CASE-aggregation form)."""
    out = (
        t(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_linestatus", cents(F.col("l_extendedprice")).alias("pc"))
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum("pc").alias("s"), F.count(F.lit(1)).alias("c"))
    )
    return out.select(
        "l_returnflag",
        (F.col("F_s") / 100.0).alias("status_f"),
        (F.col("O_s") / 100.0).alias("status_o"),
        (F.coalesce(F.col("F_c"), F.lit(0)) + F.coalesce(F.col("O_c"), F.lit(0))).alias("n"),
    )


@query(
    "q_unpivot",
    f"""
    WITH agg AS (
      SELECT o_orderstatus,
             CAST(count(*) AS DOUBLE) AS n_orders,
             sum({sql_cents("o_totalprice")}) / 100.0::DOUBLE AS total_price
      FROM orders GROUP BY o_orderstatus
    )
    SELECT o_orderstatus, 'n_orders' AS metric, n_orders AS value FROM agg
    UNION ALL
    SELECT o_orderstatus, 'total_price' AS metric, total_price AS value FROM agg
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt: metric columns become (metric, value) rows."""
    agg = (
        t(spark, sf_dir, "orders")
        .select("o_orderstatus", cents(F.col("o_totalprice")).alias("pc"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_orders"),
            (F.sum("pc") / 100.0).alias("total_price"),
        )
    )
    return agg.unpivot(
        ["o_orderstatus"], ["n_orders", "total_price"], "metric", "value"
    )


@query(
    "sink_bucketed",
    """
    SELECT count(*) AS n_joined, 0 AS n_exchanges, true AS colocated
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    """,
)
def sink_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: orders and lineitem written bucketed +
    sorted on the join key, then joined WITHOUT any shuffle exchange.

    Output row carries the observed exchange count (must be 0) and the
    join row count — the plan property is data, and the oracle pins
    n_exchanges=0/colocated=TRUE plus the true join cardinality, so a
    shuffle sneaking back into the bucketed join fails the hash. This
    is the 100 TB fact-fact join strategy: shuffle once at write time,
    never again at read time.
    """
    import shutil
    import uuid
    from urllib.parse import urlparse

    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    # uuid-suffixed table names: concurrent sessions (driver run, bench,
    # plan audit) share one warehouse dir and must never race on the
    # same bucketed-table location (observed: a concurrent rewrite
    # mid-join undercounted the join).
    run = uuid.uuid4().hex[:8]
    try:
        with conf_override(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
            for name, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
                (
                    t(spark, sf_dir, name)
                    .write.mode("overwrite")
                    .bucketBy(8, key)
                    .sortBy(key)
                    .saveAsTable(f"jsmr_b_{name}_{run}")
                )
            joined = spark.table(f"jsmr_b_orders_{run}").join(
                spark.table(f"jsmr_b_lineitem_{run}"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            n_exchanges = plan.count("Exchange")
            n_rows = joined.count()
    finally:
        for name in ("orders", "lineitem"):
            spark.sql(f"DROP TABLE IF EXISTS jsmr_b_{name}_{run}")
            shutil.rmtree(f"{warehouse}/jsmr_b_{name}_{run}", ignore_errors=True)
    return spark.createDataFrame(
        [(n_rows, n_exchanges, n_exchanges == 0)],
        "n_joined long, n_exchanges int, colocated boolean",
    )


@query(
    "sink_dynamic_overwrite",
    f"""
    SELECT event_type, CAST(ts AS DATE) AS day,
           count(*) AS n,
           CAST(sum({sql_cents("value")}) AS BIGINT) AS sum_cents
    FROM events
    GROUP BY event_type, CAST(ts AS DATE)
    """,
)
def sink_dynamic_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the idempotent partition-refresh
    primitive every nightly 100 TB pipeline needs: re-running one
    partition's job replaces ONLY the partitions the write touches.
    The full daily-per-type aggregate is written partitioned by
    event_type; then the 'click' partition alone is recomputed and
    overwritten under partitionOverwriteMode=dynamic. Under the
    default STATIC mode that second write would DELETE every other
    partition, so the final read-back carrying all types at their
    source-derived values is the semantic proof — and the oracle pins
    it, so clobbered partitions or a stale refreshed partition fail
    the hash."""
    import os
    import shutil
    import tempfile
    import uuid

    out = os.path.join(
        tempfile.gettempdir(), f"jsmr_sink_dynover_{uuid.uuid4().hex[:8]}"
    )
    agg = (
        t(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents(F.col("value"))).alias("sum_cents"),
        )
    )
    try:
        agg.write.mode("overwrite").partitionBy("event_type").parquet(out)
        # the partition refresh: recompute ONE partition from source and
        # overwrite it in place — every other partition must survive
        with conf_override(spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
            agg.filter(F.col("event_type") == "click").write.mode(
                "overwrite"
            ).partitionBy("event_type").parquet(out)
        back = spark.read.parquet(out).select("event_type", "day", "n", "sum_cents")
        rows = back.collect()  # materialize before cleanup
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows, "event_type string, day date, n bigint, sum_cents bigint"
    )
