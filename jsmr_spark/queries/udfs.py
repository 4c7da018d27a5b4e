"""UDF / UDAF / UDTF surface (SURVEY.md §2.B).

Reference parity: JsMr's entire programming model is arbitrary user
code per record / per group (SURVEY.md §2.A A11). This module is the
capability proof on Spark's four user-code paths, each with the same
"built-ins first" caveat documented:

  * q_udf_scalar   — row-at-a-time Python UDF (the slow path; here to
                     prove the surface, not to recommend it);
  * q_pandas_udf   — Arrow-vectorized scalar UDF (10-100x the row UDF);
  * q_grouped_map  — applyInPandas per-group transform (UDAF-style);
  * q_udtf         — Spark 4 Python UDTF with a LATERAL join.

Cross-engine exactness: the grouped z-score is computed from exact
integer cent moments (sum, sum-of-squares) with a fixed scalar
evaluation order, so pandas and DuckDB produce identical doubles —
numpy's pairwise mean/std would NOT match SQL aggregation and is
deliberately avoided.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udf
from pyspark.sql.functions import udtf

from jsmr_spark.compat import r4, sql_cents
from jsmr_spark.queries.common import t
from jsmr_spark.registry import query


@query(
    "q_udf_scalar",
    """
    SELECT c_custkey,
           round(greatest(least((c_acctbal - 1000) / 100.0::DOUBLE, 50.0), 0.0), 4) AS score
    FROM customer
    """,
)
def q_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-wise Python UDF: clamped score. Python floats are IEEE
    doubles, so the arithmetic matches the SQL mirror exactly."""

    @udf("double")
    def clamp_score(acctbal: float) -> float:
        return max(0.0, min((acctbal - 1000) / 100.0, 50.0))

    return t(spark, sf_dir, "customer").select(
        "c_custkey", r4(clamp_score(F.col("c_acctbal"))).alias("score")
    )


@query(
    "q_pandas_udf",
    """
    SELECT event_id,
           round(ln(1.0 + value), 4) AS log_value
    FROM events
    """,
)
def q_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized scalar UDF — same per-row math as q_udf_scalar's
    family but batched through numpy (the production-speed Python path)."""
    import numpy as np

    @pandas_udf("double")
    def log_value(v: pd.Series) -> pd.Series:
        return pd.Series(np.log(1.0 + v.to_numpy()))

    return t(spark, sf_dir, "events").select(
        "event_id", r4(log_value(F.col("value"))).alias("log_value")
    )


_ZSCORE_ORACLE = """
    WITH c AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS pc
      FROM orders
    ),
    m AS (
      SELECT o_orderkey, o_orderpriority, pc,
             sum(pc) OVER w AS sum_c,
             sum(pc * pc) OVER w AS sum_c2,
             count(*) OVER w AS n
      FROM c
      WINDOW w AS (PARTITION BY o_orderpriority)
    )
    SELECT o_orderkey, o_orderpriority,
           CASE WHEN n > 1
                     AND (CAST(sum_c2 AS DOUBLE) - CAST(sum_c AS DOUBLE) * (CAST(sum_c AS DOUBLE) / n)) / (n - 1) > 0
                THEN round((pc - CAST(sum_c AS DOUBLE) / n)
                           / sqrt((CAST(sum_c2 AS DOUBLE) - CAST(sum_c AS DOUBLE) * (CAST(sum_c AS DOUBLE) / n)) / (n - 1)), 4)
                ELSE NULL END AS z
    FROM m
"""


@query("q_grouped_map", _ZSCORE_ORACLE)
def q_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority-class z-score of order value via applyInPandas.

    Moments are exact integer sums over cents; the scalar combination
    (mean, variance, z) follows the exact same operation order as the
    oracle SQL, so both engines emit identical doubles. Rounding happens
    JVM-side (F.round) to keep a single rounding implementation.

    Grouping key is deliberately low-cardinality (5 priority classes,
    ~30k rows each at sf0.1): grouped-map ships one Arrow batch per
    group, so thousands of tiny groups would spend the whole budget on
    per-group Python dispatch (measured 217x slower when keyed by
    customer). Fat groups amortize the Arrow boundary — the right shape
    for this operator at any scale."""

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        pc = pdf["pc"]
        n = len(pc)
        sum_c = int(pc.sum())
        # Sum of squares overflows int64 at ~2.5k rows of max-price
        # orders (pc^2 ~ 3.6e15); accumulate in arbitrary-precision
        # Python ints, exactly like DuckDB's HUGEINT promotion.
        sum_c2 = int((pc.to_numpy().astype(object) ** 2).sum())
        if n > 1:
            mean = float(sum_c) / n
            var = (float(sum_c2) - float(sum_c) * mean) / (n - 1)
            z = (pc - mean) / (var**0.5) if var > 0 else pd.Series([None] * n, index=pc.index)
        else:
            z = pd.Series([None] * n, index=pc.index)
        return pd.DataFrame(
            {"o_orderkey": pdf["o_orderkey"], "o_orderpriority": pdf["o_orderpriority"], "z": z}
        )

    src = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("pc"),
    )
    out = src.groupBy("o_orderpriority").applyInPandas(
        zscore, "o_orderkey long, o_orderpriority string, z double"
    )
    return out.select("o_orderkey", "o_orderpriority", r4(F.col("z")).alias("z"))


@query(
    "q_udtf",
    """
    SELECT doc_id, pos, token
    FROM (
      SELECT doc_id,
             unnest(generate_series(1, len(string_split(text, ' ')))) AS pos,
             unnest(string_split(text, ' ')) AS token
      FROM documents
    ) u
    WHERE doc_id % 10 = 0
    """,
)
def q_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4): explode text into (pos, token) rows via a
    LATERAL join — the table-function flavor of the MR map phase."""

    @udtf(returnType="pos int, token string")
    class TokenExplode:
        def eval(self, text: str):
            for i, tok in enumerate(text.split(" ")):
                yield i + 1, tok

    spark.udtf.register("token_explode", TokenExplode)
    t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0).createOrReplaceTempView(
        "udtf_docs"
    )
    return spark.sql(
        "SELECT d.doc_id, te.pos, te.token FROM udtf_docs d, LATERAL token_explode(d.text) te"
    )


@query(
    "q_pandas_udaf",
    """
    SELECT l_returnflag,
           count(*) AS n,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
           round(sum(l_quantity) / CAST(count(*) AS DOUBLE), 4) AS mean_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_pandas_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined AGGREGATE via a grouped-agg pandas UDF (Arrow batch
    per group -> one scalar back): the missing quarter of the UDF
    surface next to scalar UDF / pandas scalar / grouped map / UDTF.
    Parity: l_quantity is integral, so the pandas sum is exact in
    doubles and sum/n divides identically on both engines; the UDF
    returns (sum, n) reassembled engine-side to keep the oracle a plain
    GROUP BY. At 100 TB a grouped-agg UDF has no partial aggregation —
    every group's rows ship to one executor, so reserve it for logic
    the builtins can't express; here it exists to pin the API."""

    @pandas_udf("double")
    def qty_sum(v: pd.Series) -> float:
        return float(v.sum())

    li = t(spark, sf_dir, "lineitem")
    # Spark forbids mixing a grouped-agg pandas UDF with JVM aggregates
    # in one agg() — the UDAF pass and the count pass join on the key.
    udaf = li.groupBy("l_returnflag").agg(qty_sum(F.col("l_quantity")).alias("udaf_sum"))
    cnt = li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))
    return udaf.join(cnt, "l_returnflag").select(
        "l_returnflag",
        "n",
        F.col("udaf_sum").cast("long").alias("sum_qty"),
        r4(F.col("udaf_sum") / F.col("n").cast("double")).alias("mean_qty"),
    )


@query(
    "mr_api",
    """
    SELECT token, count(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    """,
)
def mr_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JsMr-compat job() API running wordcount (map -> shuffle ->
    combine -> reduce) — VALUE-CHECKED: the API is generic user code,
    but this job's output is fully determined, so the RDD path
    (map_fn/combine_fn/reduce_fn through reduceByKey) hash-compares
    against the same oracle as its DataFrame twin q_text_wordcount.
    MR≡DataFrame equivalence is also asserted in tests/test_mr.py."""
    from jsmr_spark.mr import wordcount

    return wordcount(t(spark, sf_dir, "documents"))


@query(
    "q_mr_inverted_index",
    """
    WITH pairs AS (
      SELECT DISTINCT * FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
      )
    )
    SELECT token,
           count(*) AS df,
           min(doc_id) AS min_doc,
           max(doc_id) AS max_doc,
           md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS postings_md5
    FROM pairs GROUP BY token
    """,
)
def q_mr_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second canonical MR job through the compat API (VERDICT r3 #7):
    inverted index with a non-scalar combine (doc-id list concat, A4)
    and a transforming reduce (dedupe/sort/md5 digest, A6). The oracle
    recomputes the digest of every posting list, so the full index
    content is hash-checked, not just its cardinalities."""
    from jsmr_spark.mr import inverted_index

    return inverted_index(t(spark, sf_dir, "documents"))


@query(
    "q_mr_chain_dfhist",
    """
    WITH pairs AS (
      SELECT DISTINCT * FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
      )
    ),
    inv AS (SELECT token, count(*) AS df FROM pairs GROUP BY token)
    SELECT df, count(*) AS n_tokens FROM inv GROUP BY df
    """,
)
def q_mr_chain_dfhist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Job chaining (A8) through the compat API: job 2 consumes job 1's
    (inverted index) output as its input and reduces it to the
    document-frequency histogram — the two-job topology JsMr runs by
    feeding job N's output file to job N+1, here composed lazily."""
    from jsmr_spark.mr import df_histogram, inverted_index

    return df_histogram(inverted_index(t(spark, sf_dir, "documents")))


@query(
    "q_udf_mapinarrow",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(round(l_extendedprice*100,0) AS BIGINT)
             * CAST(l_quantity AS BIGINT) AS qty_price_cents
    FROM lineitem
    WHERE l_quantity >= 30
    """,
)
def q_udf_mapinarrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow: the zero-copy Arrow-native batch surface (no pandas
    conversion at all — RecordBatch in, RecordBatch out via pyarrow
    compute kernels). Completes the Python-surface matrix next to udf /
    pandas_udf / applyInPandas / UDTF: this is the fastest Python lane
    Spark offers, the one to reach for when even pandas' block
    consolidation overhead matters (wide batches, numeric kernels).

    Arithmetic parity: cents via round-half-away on doubles matches
    compat.cents bit-for-bit (pa.compute.round half_towards_infinity =
    half away from zero, then int64 multiply — exact)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def qty_price(batches):
        for batch in batches:
            price = batch.column("l_extendedprice")
            cents_i = pc.cast(
                pc.round(pc.multiply(price, pa.scalar(100.0)), 0, round_mode="half_towards_infinity"),
                pa.int64(),
            )
            qty = pc.cast(batch.column("l_quantity"), pa.int64())
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("l_orderkey"),
                    batch.column("l_linenumber"),
                    pc.multiply(cents_i, qty),
                ],
                ["l_orderkey", "l_linenumber", "qty_price_cents"],
            )

    src = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 30)
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity")
    )
    return src.mapInArrow(
        qty_price,
        "l_orderkey bigint, l_linenumber int, qty_price_cents bigint",
    )


@query(
    "q_mr_join",
    f"""
    SELECT c_mktsegment,
           count(*) AS n_orders,
           sum({sql_cents("o_totalprice")}) / 100.0::DOUBLE AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q_mr_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reduce-side MR join + chained aggregate through the compat API
    (jsmr_spark/mr.py:mr_join): orders and customers map to tagged
    pairs keyed on custkey, one shuffle groups them, the reducer emits
    (mktsegment, exact order cents) per matched pair, and a SECOND
    chained job (A8) combine-sums counts and cents per segment —
    VALUE-CHECKED against the relational join+aggregate oracle, so a
    dropped tag, a miss-keyed row, or double-pairing fails the hash.

    This key exists for JsMr API parity (a user's reduce-side join
    ports verbatim); the performant twin of this exact computation is
    a broadcast hash join + hash aggregate (q_join_broadcast /
    q_join_inner plans)."""
    from jsmr_spark.mr import job, mr_join

    orders = t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = mr_join(
        orders,
        cust,
        key_fn_l=lambda r: r.o_custkey,
        key_fn_r=lambda r: r.c_custkey,
        # o_totalprice has 2dp, so *100 is integer up to fp noise and
        # round() can never sit on a true .5 tie
        join_fn=lambda k, o, c: [(c.c_mktsegment, int(round(o.o_totalprice * 100)))],
        output_schema="seg string, cents long",
    )
    return job(
        joined,
        map_fn=lambda r: [(r.seg, (1, r.cents))],
        combine_fn=lambda a, b: (a[0] + b[0], a[1] + b[1]),
        reduce_fn=lambda seg, vs: [(seg, vs[0][0], vs[0][1] / 100.0)],
        output_schema="c_mktsegment string, n_orders long, total_price double",
    )


@query(
    "q_udf_arrow",
    """
    SELECT o_orderkey,
           CAST(split_part(o_orderpriority, '-', 1) AS INT) * 10
             + least(CAST(floor(o_totalprice / 50000) AS INT), 9) AS priority_band
    FROM orders
    """,
)
def q_udf_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized scalar Python UDF (``udf(..., useArrow=True)``,
    Spark 4): the same row-wise signature as q_udf_scalar but the
    engine ships column batches over Arrow instead of pickling rows —
    the migration path for legacy row UDFs that cannot be rewritten as
    pandas_udf wholesale. The function itself is still called per row;
    only the transport is batched, so this sits between q_udf_scalar
    and q_pandas_udf in the Python-lane cost ladder (and the docstrings
    of all three point users at built-ins first).

    Integer-only arithmetic (priority digit * 10 + clamped price
    bucket), so the SQL mirror is bit-exact by construction."""

    @udf("int", useArrow=True)
    def priority_band(priority: str, totalprice: float) -> int:
        return int(priority.split("-")[0]) * 10 + min(int(totalprice / 50000), 9)

    return t(spark, sf_dir, "orders").select(
        "o_orderkey",
        priority_band(F.col("o_orderpriority"), F.col("o_totalprice")).alias(
            "priority_band"
        ),
    )


@query(
    "q_cogrouped_map",
    """
    SELECT k.user_id, k.event_id AS click_id,
           count(v.event_id) AS n_views_before
    FROM events k LEFT JOIN events v
      ON v.user_id = k.user_id AND v.event_type = 'view' AND v.ts <= k.ts
    WHERE k.event_type = 'click'
    GROUP BY k.user_id, k.event_id
    """,
)
def q_cogrouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped-map (``groupBy().cogroup().applyInPandas``): the only
    Python surface that hands ONE function two aligned per-key pandas
    frames — here clicks and views cogrouped per HASH BUCKET of
    user_id, counting each click's prior views with one vectorized
    ``merge_asof(by=user_id)`` over the bucket, instead of the oracle's
    quadratic per-user theta join.

    Bucketing is the scale lever for this surface: cogrouping directly
    on user_id costs one Python invocation + Arrow round trip PER USER
    (~3 ms each — 1 500 users took 4.6 s at sf0.1 because AQE coalesces
    the tiny shuffle into one task and the calls serialize), while a
    hash bucket amortizes that fixed cost over every user in the bucket
    and keeps the per-user semantics inside vectorized C (merge_asof is
    the grouped backward-search). Bucket count scales with cluster
    parallelism, so per-task state stays one shuffle partition's rows —
    the same bound any keyed shuffle has — and no cross-user data ever
    co-locates beyond its bucket. Keys present on only one side still
    reach the function (empty other frame), which the click-only /
    view-only users in the fixture exercise.

    The driver hash pins the tie rule (a view at exactly the click ts
    counts: allow_exact_matches=True == the oracle's v.ts <= k.ts; ties
    among views at one ts are pre-collapsed to their max running count
    so merge_asof's last-match rule is deterministic)."""
    ev = t(spark, sf_dir, "events")
    # one bucket per task slot: each Python invocation costs a fixed
    # ~10 ms (Arrow round trip + worker dispatch), so fewer, fatter,
    # fully-vectorized buckets beat many thin ones; parallelism-many
    # buckets still saturate every core on a real cluster
    n_buckets = spark.sparkContext.defaultParallelism
    b = F.pmod(F.xxhash64(F.col("user_id")), F.lit(n_buckets)).alias("b")
    views = ev.filter(F.col("event_type") == "view").select(b, "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select(
        b, "user_id", F.col("event_id").alias("click_id"), "ts"
    )

    def n_views_before(kdf: pd.DataFrame, vdf: pd.DataFrame) -> pd.DataFrame:
        if kdf.empty:  # view-only bucket: nothing to emit
            return pd.DataFrame(
                {
                    "user_id": pd.Series(dtype="int64"),
                    "click_id": pd.Series(dtype="int64"),
                    "n_views_before": pd.Series(dtype="int64"),
                }
            )
        v = vdf.sort_values(["user_id", "ts"], kind="stable")
        v["cum"] = (v.groupby("user_id").cumcount() + 1).astype("int64")
        # collapse same-(user, ts) views to the max running count so the
        # backward search lands on the row that includes all ties
        v = v.groupby(["user_id", "ts"], as_index=False)["cum"].max()
        k = kdf[["user_id", "click_id", "ts"]].sort_values("ts", kind="stable")
        merged = pd.merge_asof(
            k,
            v.sort_values("ts", kind="stable"),
            on="ts",
            by="user_id",
            direction="backward",
            allow_exact_matches=True,
        )
        return pd.DataFrame(
            {
                "user_id": merged["user_id"],
                "click_id": merged["click_id"],
                "n_views_before": merged["cum"].fillna(0).astype("int64"),
            }
        )

    return (
        clicks.groupBy("b")
        .cogroup(views.groupBy("b"))
        .applyInPandas(
            n_views_before, "user_id bigint, click_id bigint, n_views_before bigint"
        )
    )


@query(
    "q_udtf_analyze",
    """
    SELECT doc_id,
           split_part(text, ' ', 1) AS tok1,
           split_part(text, ' ', 2) AS tok2,
           split_part(text, ' ', 3) AS tok3
    FROM documents
    WHERE doc_id % 10 = 0
    """,
)
def q_udtf_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic Python UDTF (Spark 4 ``analyze()``): the output
    SCHEMA is computed at plan time from the literal width argument —
    split_cols(text, 3) resolves to columns tok1..tok3 before any data
    moves, so Catalyst prunes and codegens against the derived schema
    like any static one. This is the table-function counterpart of
    schema-on-read: one UDTF serves every width without a family of
    fixed-arity registrations (q_udtf is the static-schema flavor).

    Every fixture doc has >=10 tokens (asserted in the edge test), so
    the ''-vs-NULL out-of-range divergence between split_part and a
    short split can't arise at width 3."""
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult
    from pyspark.sql.types import StringType, StructField, StructType

    class SplitCols:
        @staticmethod
        def analyze(text: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
            return AnalyzeResult(
                StructType(
                    [
                        StructField(f"tok{i + 1}", StringType())
                        for i in range(n.value)
                    ]
                )
            )

        def eval(self, text: str, n: int):
            toks = (text or "").split(" ")
            yield tuple(toks[i] if i < len(toks) else None for i in range(n))

    spark.udtf.register("split_cols", udtf(SplitCols))
    t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0).createOrReplaceTempView(
        "udtf_docs_poly"
    )
    return spark.sql(
        "SELECT d.doc_id, s.* FROM udtf_docs_poly d, LATERAL split_cols(d.text, 3) s"
    )


@query(
    "q_grouped_arrow",
    f"""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           max({sql_cents("l_extendedprice")}) AS max_price_cents
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_grouped_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map via applyInArrow (Spark 4): the zero-copy sibling of
    q_grouped_map — each group arrives as ONE pyarrow Table (no pandas
    block conversion at all) and the function returns a Table, closing
    the grouped half of the Arrow-native lane next to mapInArrow's
    ungrouped half. Group aggregates run as pyarrow compute kernels;
    cents via round-half-towards-infinity matches compat.cents
    bit-for-bit (the q_udf_mapinarrow parity argument)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def group_stats(table: pa.Table) -> pa.Table:
        cents_i = pc.cast(
            pc.round(
                pc.multiply(table.column("l_extendedprice"), pa.scalar(100.0)),
                0,
                round_mode="half_towards_infinity",
            ),
            pa.int64(),
        )
        qty = pc.cast(table.column("l_quantity"), pa.int64())
        return pa.table(
            {
                "l_returnflag": [table.column("l_returnflag")[0].as_py()],
                "l_linestatus": [table.column("l_linestatus")[0].as_py()],
                "n": pa.array([table.num_rows], pa.int64()),
                "sum_qty": pa.array([pc.sum(qty).as_py()], pa.int64()),
                "max_price_cents": pa.array([pc.max(cents_i).as_py()], pa.int64()),
            }
        )

    return (
        t(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice")
        .groupBy("l_returnflag", "l_linestatus")
        .applyInArrow(
            group_stats,
            "l_returnflag string, l_linestatus string, n bigint, sum_qty bigint, max_price_cents bigint",
        )
    )
