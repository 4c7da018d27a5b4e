"""Aggregation operators (SURVEY.md §2.B "Aggregations").

Reference parity: these re-express the JsMr reduce phase (SURVEY.md
§2.A A4-A6 — map-side combine, shuffle by key, per-key reduce) as
Catalyst hash aggregates, which give partial (map-side) aggregation,
spillable hash maps, and whole-stage codegen for free.

Exactness policy: money-scale SUMs use the scaled-integer technique
from jsmr_spark.compat (order-independent, bit-identical across
engines). Division of an exact integer sum by a power-of-ten double is
a single correctly-rounded IEEE op on both engines, so those outputs
need no rounding at all. Order-dependent statistics (stddev/corr)
keep round(,4).

Scale notes (100 TB): group-by keys here are low-cardinality
(returnflag×linestatus etc.), so partial aggregation collapses each
map partition to a handful of rows before the shuffle — the exchange
moves KBs regardless of input size. Long sums overflow past ~sf100 for
the charge expression; the wide-scale variant swaps in DECIMAL(38,4)
sums (same plan shape, still exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jsmr_spark.compat import cents, pct, r4, sql_cents, sql_pct
from jsmr_spark.queries.common import collected, scratch_dir, sql, t
from jsmr_spark.registry import query

_PRICE_C = sql_cents("l_extendedprice")
_DISC_P = sql_pct("l_discount")
_TAX_P = sql_pct("l_tax")

Q1_CUTOFF = "1998-09-02"

Q1_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  sum(l_quantity) AS sum_qty,
  sum({_PRICE_C}) / 100.0::DOUBLE AS sum_base_price,
  sum({_PRICE_C} * (100 - {_DISC_P})) / 10000.0::DOUBLE AS sum_disc_price,
  sum({_PRICE_C} * (100 - {_DISC_P}) * (100 + {_TAX_P})) / 1000000.0::DOUBLE AS sum_charge,
  round(avg(l_quantity), 4) AS avg_qty,
  sum({_PRICE_C}) / (100.0::DOUBLE * count(*)) AS avg_price,
  sum({_DISC_P}) / (100.0::DOUBLE * count(*)) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{Q1_CUTOFF}'
GROUP BY l_returnflag, l_linestatus
"""


def q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit(Q1_CUTOFF).cast("timestamp"))
    li = li.select(
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        cents(F.col("l_extendedprice")).alias("price_c"),
        pct(F.col("l_discount")).alias("disc_p"),
        pct(F.col("l_tax")).alias("tax_p"),
    )
    n = F.count(F.lit(1))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        (F.sum("price_c") / 100.0).alias("sum_base_price"),
        (F.sum(F.col("price_c") * (100 - F.col("disc_p"))) / 10000.0).alias("sum_disc_price"),
        (F.sum(F.col("price_c") * (100 - F.col("disc_p")) * (100 + F.col("tax_p"))) / 1000000.0).alias(
            "sum_charge"
        ),
        r4(F.avg("l_quantity")).alias("avg_qty"),
        (F.sum("price_c") / (100.0 * n)).alias("avg_price"),
        (F.sum("disc_p") / (100.0 * n)).alias("avg_disc"),
        n.alias("count_order"),
    )


query("q_agg_q1", Q1_ORACLE)(q1)
q1.__doc__ = """Flagship: TPC-H-Q1-shape pricing summary (SURVEY.md §2.B).

The canonical "reduce" of the reference's MR kernel, expressed as one
hash aggregate. entry() runs this at sf0.001."""


@query(
    "q_agg_count_distinct",
    """
    SELECT o_orderstatus,
           count(DISTINCT o_custkey) AS nd_cust,
           count(*) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct count per group."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("nd_cust"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@query(
    "q_agg_multi_distinct",
    """
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS nd_part,
           count(DISTINCT l_suppkey) AS nd_supp,
           sum(l_quantity) AS sum_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two DISTINCT aggregates + a plain aggregate in one pass (Expand plan)."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("nd_part"),
            F.countDistinct("l_suppkey").alias("nd_supp"),
            F.sum("l_quantity").alias("sum_qty"),
        )
    )


@query(
    "q_agg_minmax",
    """
    SELECT l_returnflag,
           min(l_extendedprice) AS min_price,
           max(l_extendedprice) AS max_price,
           min(l_shipdate) AS min_ship,
           max(l_shipdate) AS max_ship,
           min(l_linestatus) AS min_status,
           max(l_linestatus) AS max_status
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max over doubles, timestamps, and strings (order-independent, no rounding needed)."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
            F.min("l_shipdate").alias("min_ship"),
            F.max("l_shipdate").alias("max_ship"),
            F.min("l_linestatus").alias("min_status"),
            F.max("l_linestatus").alias("max_status"),
        )
    )


@query(
    "q_agg_stats",
    """
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 4) AS sd_qty,
           round(var_samp(l_quantity), 4) AS var_qty,
           round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
           round(covar_samp(l_quantity, l_discount), 4) AS covar_qty_disc
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates; round(,4) absorbs algorithmic drift between engines."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            r4(F.stddev_samp("l_quantity")).alias("sd_qty"),
            r4(F.var_samp("l_quantity")).alias("var_qty"),
            r4(F.corr("l_quantity", "l_extendedprice")).alias("corr_qty_price"),
            r4(F.covar_samp("l_quantity", "l_discount")).alias("covar_qty_disc"),
        )
    )


@query(
    "q_agg_percentile",
    """
    SELECT l_returnflag,
           round(median(l_quantity), 4) AS med_qty,
           round(quantile_cont(l_quantity, 0.25), 4) AS p25_qty,
           round(quantile_cont(l_quantity, 0.90), 4) AS p90_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles (Spark percentile == DuckDB quantile_cont:
    both interpolate at rank (n-1)*q)."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            # one buffer+sort for all three quantiles (r12; identical
            # interpolation, identical values)
            F.percentile(
                "l_quantity", F.array(F.lit(0.5), F.lit(0.25), F.lit(0.90))
            ).alias("px")
        )
        .select(
            "l_returnflag",
            r4(F.element_at("px", 1)).alias("med_qty"),
            r4(F.element_at("px", 2)).alias("p25_qty"),
            r4(F.element_at("px", 3)).alias("p90_qty"),
        )
    )


_DEC_PRICE = f"CAST({_PRICE_C} AS DECIMAL(38,4))"
_DEC_CHARGE = f"CAST({_PRICE_C} * (100 - {_DISC_P}) * (100 + {_TAX_P}) AS DECIMAL(38,4))"


@query(
    "q_agg_decimal",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(sum({_DEC_PRICE}) AS BIGINT) AS sum_price_cents,
           CAST(sum({_DEC_PRICE}) AS BIGINT) / 100.0::DOUBLE AS sum_base_price,
           CAST(sum({_DEC_CHARGE}) AS BIGINT) / 1000000.0::DOUBLE AS sum_charge,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{Q1_CUTOFF}'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_agg_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship money path over DECIMAL(38,4) — the sf100 overflow-proof
    variant of q_agg_q1's cents arithmetic.

    The BIGINT cents path documented in SCALING.md overflows once
    sum(price_c * disc * tax) exceeds 2^63 (~6e9 rows of max-price
    charges, i.e. around sf100); summing DECIMAL(38,4) instead holds to
    1e38 with exact integer semantics. The per-row value is still built
    in exact integer cents (never by rounding doubles to 4dp — products
    of 2dp decimals tie at 4dp and Spark/DuckDB round ties differently);
    only the SUM runs in decimal.

    Output-type note (round-3 fix for the one red driver row): the r2
    variant emitted DECIMAL(38,x) finals, which were verified
    byte-identical on both engines yet still hash-mismatched — the
    driver's value-hash is not decimal-canonical. The finals are now
    hash-portable: the decimal sums (integer-valued by construction,
    scale 4 holds .0000) CAST to BIGINT, and the two quotients computed
    as int64/power-of-ten-double — one correctly-rounded IEEE op on both
    engines (the exact pattern q_agg_q1 runs driver-green). The decimal
    ACCUMULATION the key exists to pin is unchanged; at sf100 the
    emit-stage BIGINT cast for the charge sum would widen back to
    decimal-as-string, an output-format concern only.

    At 100 TB: Spark's sum(DECIMAL) keeps partial aggregation (map-side
    combine) and a fixed 16-byte unscaled-long accumulator — same
    shuffle shape as the long path, twice the bytes per cell."""
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit(Q1_CUTOFF).cast("timestamp")
    )
    price_c = cents(F.col("l_extendedprice"))
    charge = price_c * (100 - pct(F.col("l_discount"))) * (100 + pct(F.col("l_tax")))
    d = li.select(
        "l_returnflag",
        "l_linestatus",
        price_c.cast("decimal(38,4)").alias("pd"),
        charge.cast("decimal(38,4)").alias("cd"),
    )
    agg = d.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("pd").alias("_sum_pd"),
        F.sum("cd").alias("_sum_cd"),
        F.count(F.lit(1)).alias("count_order"),
    )
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        F.col("_sum_pd").cast("bigint").alias("sum_price_cents"),
        (F.col("_sum_pd").cast("bigint") / F.lit(100.0)).alias("sum_base_price"),
        (F.col("_sum_cd").cast("bigint") / F.lit(1000000.0)).alias("sum_charge"),
        "count_order",
    )


@query("q_agg_approx_distinct", None)  # estimates are impl-specific => rows-only by design
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct estimate — the 100 TB path for cardinality
    (single pass, fixed memory, no exact-distinct shuffle expansion)."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_partkey", 0.02).alias("approx_nd_part"))
    )


@query("q_agg_approx_quantile", None)  # estimates are impl-specific => rows-only by design
def q_agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (Greenwald-Khanna sketch) — the 100 TB
    path for quantiles: single pass, bounded memory per group,
    mergeable partials, no global sort. The exact twin (q_agg_percentile)
    is the oracle-checked semantics; this key pins the sketch surface."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            # one GK sketch queried at both quantiles (r12; the sketch
            # state depends only on the input sequence, so the
            # estimates are identical to the two-sketch form)
            F.approx_percentile(
                cents(F.col("l_extendedprice")),
                F.array(F.lit(0.5), F.lit(0.99)),
                F.lit(1000),
            ).alias("ap")
        )
        .select(
            "l_returnflag",
            F.element_at("ap", 1).alias("p50_cents"),
            F.element_at("ap", 2).alias("p99_cents"),
        )
    )


_GSETS_AGGS_SQL = f"sum({_PRICE_C}) / 100.0::DOUBLE AS sum_price, count(*) AS n"


@query(
    "q_agg_grouping_sets",
    f"""
    SELECT l_returnflag, l_linestatus,
           grouping(l_returnflag) AS g_rf, grouping(l_linestatus) AS g_ls,
           {_GSETS_AGGS_SQL}
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus), ())
    """,
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with grouping() markers (Expand-based plan).

    r13 (guide §2.3 — aggregate before you expand): the grouping sets
    run over a plain (rf, ls) pre-aggregate instead of the raw scan.
    Expand multiplies its input 4x (one copy per grouping set), so the
    old plan pushed 4x the corpus rows — and 4 evaluations/row of the
    cents cast — through the partial aggregate; pre-aggregating first
    shrinks Expand's input to the distinct group combinations (~6 rows
    here; bounded by |rf| x |ls| at any scale). Exact by construction:
    BIGINT cent sums and counts re-associate losslessly, data-NULL vs
    Expand-NULL keys are disambiguated by the internal grouping id
    either way. Measured (noop sink, sf0.1, best-of-4, twice): 0.64 /
    0.77 s -> 0.30 / 0.38 s; result + dtypes identical."""
    return sql(
        spark,
        sf_dir,
        f"""
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) AS INT) AS g_rf,
               CAST(grouping(l_linestatus) AS INT) AS g_ls,
               sum(price_c) / 100.0::DOUBLE AS sum_price, sum(n) AS n
        FROM (SELECT l_returnflag, l_linestatus,
                     sum({_PRICE_C}) AS price_c, count(*) AS n
              FROM lineitem GROUP BY l_returnflag, l_linestatus)
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus), ())
        """,
    )


@query(
    "q_agg_rollup",
    f"""
    SELECT l_returnflag, l_linestatus, {_GSETS_AGGS_SQL}
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals.

    r13: rollup over the (rf, ls) pre-aggregate (guide §2.3 — Expand
    multiplied the corpus 3x before; now it multiplies ~6 rows). Exact:
    BIGINT sums/counts re-associate losslessly. See
    q_agg_grouping_sets for the measured A/B on the same shape."""
    return (
        t(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_linestatus", cents(F.col("l_extendedprice")).alias("pc"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("pc").alias("price_c"), F.count(F.lit(1)).alias("pn"))
        .rollup("l_returnflag", "l_linestatus")
        .agg((F.sum("price_c") / 100.0).alias("sum_price"), F.sum("pn").alias("n"))
    )


@query(
    "q_agg_cube",
    f"""
    SELECT l_returnflag, l_linestatus, {_GSETS_AGGS_SQL}
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions.

    r13: cube over the (rf, ls) pre-aggregate (guide §2.3 — Expand
    multiplied the corpus 4x before; now ~6 rows). Exact: BIGINT
    sums/counts re-associate losslessly. See q_agg_grouping_sets for
    the measured A/B on the same shape."""
    return (
        t(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_linestatus", cents(F.col("l_extendedprice")).alias("pc"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("pc").alias("price_c"), F.count(F.lit(1)).alias("pn"))
        .cube("l_returnflag", "l_linestatus")
        .agg((F.sum("price_c") / 100.0).alias("sum_price"), F.sum("pn").alias("n"))
    )


@query(
    "q_agg_having",
    f"""
    SELECT o_custkey, count(*) AS n_orders, sum({sql_cents("o_totalprice")}) / 100.0::DOUBLE AS total_spend
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) >= 15
    """,
)
def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    return (
        t(spark, sf_dir, "orders")
        .select("o_custkey", cents(F.col("o_totalprice")).alias("price_c"))
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"), (F.sum("price_c") / 100.0).alias("total_spend"))
        .filter(F.col("n_orders") >= 15)
    )


@query(
    "q_agg_collect",
    """
    SELECT l_orderkey,
           array_to_string(list(l_linenumber ORDER BY l_linenumber), ',') AS line_numbers,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_orderkey % 100 = 0
    GROUP BY l_orderkey
    """,
)
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered per-group list (collect_list + sort_array), serialized to a
    string because array hashing is not portable across engines."""
    return (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 100 == 0)
        .groupBy("l_orderkey")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list("l_linenumber")).cast("array<string>"), ","
            ).alias("line_numbers"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q_agg_bool",
    """
    SELECT l_returnflag,
           bool_and(l_discount <= 0.10) AS all_small_disc,
           bool_or(l_quantity > 45) AS any_big_qty,
           bool_and(l_extendedprice > 50000) AS all_pricey
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates bool_and / bool_or."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.bool_and(F.col("l_discount") <= 0.10).alias("all_small_disc"),
            F.bool_or(F.col("l_quantity") > 45).alias("any_big_qty"),
            F.bool_and(F.col("l_extendedprice") > 50000).alias("all_pricey"),
        )
    )


@query(
    "q_agg_regr",
    """
    SELECT l_returnflag,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
           round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 4) AS r2,
           round(regr_avgx(l_extendedprice, l_quantity), 4) AS avg_x,
           round(regr_avgy(l_extendedprice, l_quantity), 4) AS avg_y
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_regr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregates (price ~ quantity per return flag):
    slope / intercept / R^2 / group means. Both engines compute the
    same single-pass moment accumulations; 4dp rounding absorbs
    summation-order ulp drift (same policy as q_agg_stats). One
    hash-agg over the fact table — partial aggregation map-side, so at
    100 TB the shuffle carries per-flag moment tuples, not rows."""
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.regr_count(y, x).cast("long").alias("n"),
            r4(F.regr_slope(y, x)).alias("slope"),
            r4(F.regr_intercept(y, x)).alias("intercept"),
            r4(F.regr_r2(y, x)).alias("r2"),
            r4(F.regr_avgx(y, x)).alias("avg_x"),
            r4(F.regr_avgy(y, x)).alias("avg_y"),
        )
    )


@query(
    "q_sketch_bitmap_distinct",
    """
    SELECT event_type, count(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    """,
)
def q_sketch_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct count via bitmap aggregation — the scale-path
    alternative to shuffling raw values into count(DISTINCT): each
    partition builds fixed-size bitmap partials (bitmap_construct_agg
    over bitmap_bit_position), partials OR-merge in the combiner, and
    the final count sums bitmap_count per 32768-id bucket. The shuffle
    carries one ≤4KB bitmap per (group, bucket) per partition instead
    of one row per distinct value — at 100 TB with billions of ids per
    group this is the difference between a bounded exchange and a
    distinct-row explosion (same mergeability story as HLL, but exact;
    the approximate twin is q_agg_approx_distinct).

    The two-level form (bucket group-by, then sum of counts) is the
    general one: ids above 32768 land in higher buckets — exercised at
    10x probe scale where user_ids are shifted by 1e9 per replica.
    Oracle: plain count(DISTINCT) — the values must agree exactly."""
    return (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.bitmap_bucket_number(F.col("user_id")).alias("bkt")
        )
        .agg(
            F.bitmap_construct_agg(F.bitmap_bit_position(F.col("user_id"))).alias("bm")
        )
        .groupBy("event_type")
        .agg(F.sum(F.bitmap_count(F.col("bm"))).alias("n_users"))
    )


# --- count-min sketch heavy hitters ----------------------------------

CMS_W = 1024  # counters per hash row
CMS_D = 4  # independent hash rows
CMS_TOPN = 15


def _cms_hash_sql(j: int, tok: str = "token") -> str:
    """Portable CMS row-j bucket: hex12(md5('cms<j>|' || token)) % W.

    The seed string is baked per row so the D hash functions are
    independent; the md5-derived integer is identical on Spark SQL and
    DuckDB (same text via hex12_sql), so both engines build the same
    sketch bit-for-bit."""
    from jsmr_spark.queries.dedup import hex12_sql

    md5_expr = f"md5(concat('cms{j}|', {tok}))"
    return f"({hex12_sql(md5_expr)} % {CMS_W})"


@query(
    "q_sketch_cms_topk",
    f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    counts AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
    ex AS (
      {" UNION ALL ".join(
        f"SELECT token, cnt, {j} AS j, {_cms_hash_sql(j)} AS bkt FROM counts"
        for j in range(CMS_D)
      )}
    ),
    counters AS (
      SELECT j, bkt, CAST(sum(cnt) AS BIGINT) AS counter
      FROM ex GROUP BY j, bkt
    ),
    top AS (
      SELECT token, cnt FROM (
        SELECT token, cnt,
               row_number() OVER (ORDER BY cnt DESC, token) AS rn
        FROM counts) x
      WHERE rn <= {CMS_TOPN}
    ),
    est AS (
      SELECT t.token, t.cnt, min(c.counter) AS cms_est
      FROM top t
      JOIN ex e ON e.token = t.token
      JOIN counters c ON c.j = e.j AND c.bkt = e.bkt
      GROUP BY t.token, t.cnt
    )
    SELECT token, CAST(cnt AS BIGINT) AS cnt, cms_est,
           cms_est - CAST(cnt AS BIGINT) AS overcount
    FROM est
    """,
)
def q_sketch_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) heavy-hitter
    report: build a {CMS_D}x{CMS_W} CMS over the corpus token stream,
    then for the exact top-{CMS_TOPN} tokens report true count, CMS
    estimate (min over the D counters each token hashes to), and the
    overcount — the fidelity readout that sizes W x D before a 100 TB
    frequency pass is frozen to sketches.

    Sketch-as-groupBy: CMS counters are associative sums, so the
    "sketch" IS a two-stage hash aggregate — per-partition partials
    combine map-side and the exchange carries at most D*W = {CMS_D * CMS_W}
    counter rows per partition, never tokens. Building from the token
    counts (one shuffle) then exploding D (j, bucket) pairs per
    distinct token keeps the explode factor off the raw stream. The
    counter table is {CMS_D * CMS_W} rows -> broadcast to the top-N probe
    side; top-N itself is TakeOrderedAndProject under a total order
    (cnt DESC, token). Estimates are exact integers on both engines —
    the portable md5 bucket map (hex12_sql) makes the sketch itself
    engine-reproducible, which no seeded-rand sketch is."""
    toks = t(spark, sf_dir, "documents").select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    buckets = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                F.expr(_cms_hash_sql(j)).alias("bkt"),
            )
            for j in range(CMS_D)
        ]
    )
    ex = counts.select("token", "cnt", F.explode(buckets).alias("jb")).select(
        "token", "cnt", F.col("jb.j").alias("j"), F.col("jb.bkt").alias("bkt")
    )
    counters = ex.groupBy("j", "bkt").agg(F.sum("cnt").alias("counter"))
    top = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(CMS_TOPN)
    top_ex = top.select("token", "cnt", F.explode(buckets).alias("jb")).select(
        "token", "cnt", F.col("jb.j").alias("j"), F.col("jb.bkt").alias("bkt")
    )
    est = (
        top_ex.join(F.broadcast(counters), ["j", "bkt"])
        .groupBy("token", "cnt")
        .agg(F.min("counter").alias("cms_est"))
    )
    return est.select(
        "token",
        "cnt",
        "cms_est",
        (F.col("cms_est") - F.col("cnt")).alias("overcount"),
    )


@query(
    "q_agg_weighted_median",
    f"""
    WITH w AS (
      SELECT l_returnflag, {sql_cents('l_extendedprice')} AS price_c,
             CAST(l_quantity AS BIGINT) AS qty
      FROM lineitem
    ),
    g AS (
      SELECT l_returnflag, price_c, CAST(sum(qty) AS BIGINT) AS wsum
      FROM w GROUP BY l_returnflag, price_c
    ),
    c AS (
      SELECT l_returnflag, price_c, wsum,
             sum(wsum) OVER (PARTITION BY l_returnflag ORDER BY price_c) AS cumw,
             sum(wsum) OVER (PARTITION BY l_returnflag) AS total
      FROM g
    )
    SELECT l_returnflag,
           CAST(min(CASE WHEN 2 * cumw >= total THEN price_c END) AS BIGINT)
             / 100.0::DOUBLE AS w_median,
           CAST(min(total) AS BIGINT) AS total_qty
    FROM c GROUP BY l_returnflag
    """,
)
def q_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median (lower) of extended price weighted by quantity,
    per return flag: the smallest price whose cumulative weight reaches
    half the group total — the robust center a quantity-weighted price
    distribution calls for, exact where percentile interpolation is
    engine-specific.

    Determinism: prices collapse to exact integer cents and group to
    UNIQUE (flag, price) rows before the cumulative window, so the
    ordered sum never depends on intra-tie row order — the trap that
    makes naive cumulative-weight medians partitioning-dependent.
    Scale shape: one keyed aggregate (map-side partials) shrinks the
    corpus to the price domain per flag, ONE ordered-cumulative window
    runs over that bounded domain, and the group totals come from a
    cheap re-aggregate of the domain table (reusing its exchange)
    broadcast back in — replacing the second, unbounded window the
    earlier form paid a separate WindowExec for (~15 % of the key's
    wall at sf0.1). Threshold pick and totals are a final tiny hash
    aggregate. All integer math until the single /100.0 at the end."""
    w = t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        cents(F.col("l_extendedprice")).alias("price_c"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    g = w.groupBy("l_returnflag", "price_c").agg(F.sum("qty").alias("wsum"))
    tot = g.groupBy("l_returnflag").agg(F.sum("wsum").alias("total"))
    cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("price_c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = g.withColumn("cumw", F.sum("wsum").over(cum)).join(
        F.broadcast(tot), "l_returnflag"
    )
    return c.groupBy("l_returnflag").agg(
        (
            F.min(F.when(2 * F.col("cumw") >= F.col("total"), F.col("price_c")))
            / 100.0
        ).alias("w_median"),
        F.min("total").alias("total_qty"),
    )


@query(
    "q_sketch_bitmap_intersect",
    """
    SELECT
      CAST((SELECT count(DISTINCT user_id) FROM events WHERE event_type = 'view') AS BIGINT) AS n_view,
      CAST((SELECT count(DISTINCT user_id) FROM events WHERE event_type = 'click') AS BIGINT) AS n_click,
      CAST((SELECT count(DISTINCT user_id) FROM events
            WHERE event_type IN ('view', 'click')) AS BIGINT) AS n_union,
      CAST((SELECT count(*) FROM
              (SELECT user_id FROM events WHERE event_type = 'view'
               INTERSECT
               SELECT user_id FROM events WHERE event_type = 'click') x) AS BIGINT)
        AS n_both
    """,
)
def q_sketch_bitmap_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct-set intersection via bitmap algebra — the
    audience-overlap question (users who both viewed AND clicked)
    answered without ever shuffling raw user ids: ONE scan builds
    per-(side, bucket) bitmaps (mergeable partials, same machinery as
    q_sketch_bitmap_distinct), the union bitmap OR-merges those buckets
    without touching the corpus again, and inclusion-exclusion gives
    |A ∩ B| = |A| + |B| - |A ∪ B| from three bitmap counts. At 100 TB the exchange carries <=4KB bitmaps per
    (side, bucket) partition instead of one row per distinct user —
    and unlike an HLL intersection estimate, every count is exact.
    Oracle: the literal distinct counts + INTERSECT, so a lost bucket,
    a double-counted id, or broken inclusion-exclusion fails the hash."""
    # ONE corpus scan: per-(side, bucket) bitmaps built in a single
    # aggregate; the union bitmap is then an OR-merge over the tiny
    # bucket table, never a second pass over the events.
    bm = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "click"))
        .groupBy(
            "event_type",
            F.bitmap_bucket_number(F.col("user_id")).alias("bkt"),
        )
        .agg(
            F.bitmap_construct_agg(F.bitmap_bit_position(F.col("user_id"))).alias(
                "bm"
            )
        )
    )

    def card(df: DataFrame, alias: str) -> DataFrame:
        return df.agg(F.sum(F.bitmap_count(F.col("bm"))).cast("long").alias(alias))

    nv = card(bm.filter(F.col("event_type") == "view"), "n_view")
    nc = card(bm.filter(F.col("event_type") == "click"), "n_click")
    nu = card(
        bm.groupBy("bkt").agg(F.bitmap_or_agg(F.col("bm")).alias("bm")), "n_union"
    )
    return (
        nv.crossJoin(nc)
        .crossJoin(nu)
        .select(
            "n_view",
            "n_click",
            "n_union",
            (F.col("n_view") + F.col("n_click") - F.col("n_union")).alias("n_both"),
        )
    )


@query(
    "q_sketch_hll_merge",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS n_exact,
           true AS est_ok
    FROM events GROUP BY event_type
    """,
)
def q_sketch_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch ROLLUP TABLE — the 100 TB distinct-count
    pattern the plain approx key (q_agg_approx_distinct) doesn't cover:
    per-(event_type, day) HLL sketches are built once, PERSISTED to a
    parquet sketch table (binary column), re-read, and cross-day
    hll_union_agg merges them into per-type estimates — so tomorrow's
    query unions yesterday's sketches instead of rescanning a year of
    raw events. Exercises hll_sketch_agg -> binary parquet round-trip
    -> hll_union_agg -> hll_sketch_estimate.

    Sketch estimates are impl-specific, so the hashed output pins the
    EXACT count (computed alongside) plus an est_ok flag asserting the
    merged estimate lands within 2% — a broken merge or a corrupted
    persisted sketch flips est_ok and fails the hash, while the
    estimate itself stays out of the hash."""
    ev = t(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"), "user_id"
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    with scratch_dir("q_sketch_hll_merge") as path:
        daily.write.mode("overwrite").parquet(path)
        merged = (
            spark.read.parquet(path)
            .groupBy("event_type")
            .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        )
        exact = ev.groupBy("event_type").agg(
            F.countDistinct("user_id").alias("n_exact")
        )
        return collected(
            exact.join(merged, "event_type").select(
                "event_type",
                "n_exact",
                (
                    F.abs(F.col("est") - F.col("n_exact"))
                    <= 0.02 * F.col("n_exact")
                ).alias("est_ok"),
            ),
            "event_type string, n_exact bigint, est_ok boolean",
        )


_FILTER_CLAUSE_SQL = f"""
    SELECT event_type,
           count(*) AS n_all,
           count(*) FILTER (WHERE value > 50) AS n_high,
           CAST(coalesce(sum({sql_cents("value")})
                         FILTER (WHERE user_id % 2 = 0), 0) AS BIGINT)
             AS even_user_cents,
           count(DISTINCT user_id) FILTER (WHERE value > 50) AS n_high_users
    FROM events
    GROUP BY event_type
    """


@query("q_agg_filter_clause", _FILTER_CLAUSE_SQL)
def q_agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER (WHERE ...) aggregate modifier (SQL:2003): per-aggregate
    predicates in ONE scan and ONE hash aggregate — the declarative
    form of the CASE-WHEN pivot idiom (q_stream_funnel) that warehouse
    SQL ports rely on. Distinct-with-filter exercises the expand path
    (each distinct aggregate keeps its own filter). coalesce pins the
    no-matching-rows group to 0 on both engines; cents-sum is CAST to
    BIGINT per the HUGEINT oracle policy."""
    return sql(spark, sf_dir, _FILTER_CLAUSE_SQL)


_CROSSTAB_DOW = ", ".join(
    f"count(*) FILTER (WHERE (CAST(ts AS DATE) - DATE '2024-01-01') % 7 = {d}) AS \"{d}\""
    for d in range(7)
)


@query(
    "q_stat_crosstab",
    f"""
    SELECT event_type AS event_type_dow, {_CROSSTAB_DOW}
    FROM events GROUP BY event_type
    """,
)
def q_stat_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.stat.crosstab: the contingency-table API (pair frequency
    pivot in one pass) — event type x day-of-week here. The dow value
    is an anchored date difference mod 7 (NOT the engine's dayofweek,
    whose week-start convention differs between Spark and DuckDB), so
    both engines label columns identically. crosstab emits cell
    columns named by the values themselves and the joined
    'event_type_dow' header column; the oracle states the same table
    as FILTER-aggregates. Physically this is a single hash aggregate
    over (type, dow) pivoted at the end — one corpus scan, one keyed
    shuffle."""
    ev = t(spark, sf_dir, "events").select(
        "event_type",
        (F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")) % 7).alias("dow"),
    )
    return ev.stat.crosstab("event_type", "dow")


@query(
    "q_sketch_quantile_check",
    f"""
    SELECT l_returnflag,
           round(quantile_cont({_PRICE_C}, 0.5), 4) AS p50_exact,
           round(quantile_cont({_PRICE_C}, 0.99), 4) AS p99_exact,
           true AS ok_p50, true AS ok_p99
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_sketch_quantile_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch ACCURACY gate — the q_sketch_hll_merge pattern
    applied to Greenwald-Khanna percentiles: the rows-only approx key
    (q_agg_approx_quantile) pins the sketch surface but the driver
    can't hash impl-specific estimates, so this key computes the EXACT
    percentile alongside and hashes exact + a 1%-relative-tolerance
    flag. A sketch whose error drifts past the guarantee flips the
    flag and fails the hash, while the estimate itself stays out.

    Scale note: the exact side sorts per group (the thing the sketch
    exists to avoid) — this key is the CI-sized accuracy gate you run
    on a sample, not the 100 TB path; the sketch is."""
    # r12 (guide §1.2 step 2): percentile(col, array(...)) — the two
    # exact quantiles previously ran as two separate Percentile
    # aggregates, each buffering and sorting the full group; ditto the
    # two GK sketches. One buffer each now; identical interpolation and
    # sketch config, identical values.
    pc = cents(F.col("l_extendedprice"))
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.percentile(pc, F.array(F.lit(0.5), F.lit(0.99))).alias("ex"),
            F.approx_percentile(
                pc, F.array(F.lit(0.5), F.lit(0.99)), F.lit(1000)
            ).alias("ap"),
        )
        .select(
            "l_returnflag",
            r4(F.element_at("ex", 1)).alias("p50_exact"),
            r4(F.element_at("ex", 2)).alias("p99_exact"),
            (
                F.abs(F.element_at("ap", 1) - r4(F.element_at("ex", 1)))
                <= 0.01 * r4(F.element_at("ex", 1))
            ).alias("ok_p50"),
            (
                F.abs(F.element_at("ap", 2) - r4(F.element_at("ex", 2)))
                <= 0.01 * r4(F.element_at("ex", 2))
            ).alias("ok_p99"),
        )
    )


@query(
    "q_agg_mad",
    """
    WITH med AS (
      SELECT l_returnflag, median(l_quantity) AS med
      FROM lineitem GROUP BY l_returnflag
    ),
    dev AS (
      SELECT l.l_returnflag, m.med, abs(l.l_quantity - m.med) AS adev
      FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag
    ),
    mad AS (
      SELECT l_returnflag, min(med) AS med, median(adev) AS mad
      FROM dev GROUP BY l_returnflag
    )
    SELECT d.l_returnflag,
           round(min(m.med), 4) AS med_qty,
           round(min(m.mad), 4) AS mad_qty,
           CAST(sum(CASE WHEN d.adev > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           count(*) AS n_rows
    FROM dev d JOIN mad m ON d.l_returnflag = m.l_returnflag
    GROUP BY d.l_returnflag
    """,
)
def q_agg_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust dispersion per group: median, MAD (median absolute
    deviation), and a 3-MAD outlier census — the robust counterpart of
    q_agg_stats' stddev (one far outlier moves stddev arbitrarily but
    moves the median/MAD not at all, which is why data-quality gates on
    scraped corpora use this form).

    Exactness: l_quantity is integral, so both medians interpolate at
    worst to an exact .5 (IEEE-exact on both engines), the absolute
    deviations are exact doubles, and the 3*MAD outlier comparison is
    deterministic — only the two reported medians carry round(,4), as
    documentation rather than necessity.

    Scale shape: two passes over the fact table, each reduced by
    partial aggregation before its exchange, plus two broadcast joins
    of a groups-sized (3-row) dimension back onto the facts — no
    row-level shuffle beyond the two keyed aggregations. Exact
    distributed medians sort within groups; at 100 TB swap the exact
    percentile for approx_percentile and gate it with the
    q_sketch_quantile_check pattern."""
    li = t(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    med = li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.5)).alias("med")
    )
    dev = li.join(F.broadcast(med), "l_returnflag").select(
        "l_returnflag",
        "med",
        F.abs(F.col("l_quantity") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("l_returnflag").agg(
        F.min("med").alias("med"),
        F.percentile("adev", F.lit(0.5)).alias("mad"),
    )
    return (
        dev.select("l_returnflag", "adev")
        .join(F.broadcast(mad), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            r4(F.min("med")).alias("med_qty"),
            r4(F.min("mad")).alias("mad_qty"),
            F.sum(
                F.when(F.col("adev") > 3 * F.col("mad"), 1).otherwise(0)
            ).cast("long").alias("n_outliers"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


KMV_K = 128
KMV_M = 16**12  # hex12 hash domain size
_KMV_SCALE = (KMV_K - 1) * KMV_M  # (k-1)*M: estimate numerator, < 2^63


def _kmv_hash_sql(cast: str) -> str:
    from jsmr_spark.queries.dedup import hex12_sql

    return hex12_sql(f"md5({cast})")


@query(
    "q_sketch_kmv",
    f"""
    WITH h AS (
      SELECT DISTINCT event_type,
             {_kmv_hash_sql("CAST(user_id AS VARCHAR)")} AS hv
      FROM events
    ),
    rk AS (
      SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS r
      FROM h
    ),
    sk AS (SELECT event_type, hv FROM rk WHERE r <= {KMV_K}),
    per AS (
      SELECT e.event_type, e.n_exact,
             CASE WHEN e.n_exact >= {KMV_K}
                  THEN CAST({_KMV_SCALE} // m.hvk AS BIGINT)
                  ELSE e.n_exact END AS n_est
      FROM (SELECT event_type, count(*) AS n_exact FROM h GROUP BY 1) e
      LEFT JOIN (SELECT event_type, hv AS hvk FROM rk WHERE r = {KMV_K}) m
        USING (event_type)
    ),
    merged AS (SELECT DISTINCT hv FROM sk),
    mrk AS (SELECT hv, row_number() OVER (ORDER BY hv) AS r FROM merged),
    allrow AS (
      SELECT 'ALL' AS event_type,
             (SELECT count(DISTINCT hv) FROM h) AS n_exact,
             CASE WHEN (SELECT count(*) FROM merged) >= {KMV_K}
                  THEN CAST({_KMV_SCALE} // (SELECT hv FROM mrk WHERE r = {KMV_K}) AS BIGINT)
                  ELSE (SELECT count(DISTINCT hv) FROM h) END AS n_est
    )
    SELECT event_type, n_exact, n_est,
           abs(n_est - n_exact) * 4 <= n_exact AS est_ok
    FROM (SELECT * FROM per UNION ALL SELECT * FROM allrow) u
    """,
)
def q_sketch_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / theta) distinct-count sketch with a
    MERGE step — per-type sketches of the k=128 smallest portable user
    hashes, estimate (k-1)*M/R_k, then the per-type sketches union into
    one global sketch whose estimate is checked against the true global
    distinct. Below k distinct values the sketch IS the exact set and
    the estimate is exact by construction (the sf0.001 path).

    Unlike HLL (q_sketch_hll_merge, whose registers are impl-specific
    so only a tolerance FLAG can be hashed), every number here is
    deterministic: the hash is the repo's portable md5 prefix, R_k is
    a rank statistic, and the estimate is one BIGINT floor division —
    so the driver hashes the ESTIMATES themselves, exactly, on both
    engines. est_ok additionally gates accuracy at 25% (k=128 ->
    ~8.9% expected relative error; measured -0.7% at sf0.01, +5.9% at
    sf0.1).

    Scale shape: the sketch is an order statistic — per-partition
    top-k heaps merge associatively (TakeOrdered-style), the per-type
    state is k longs regardless of input size, and MERGING sketches is
    union + re-take-k: the property that lets per-day/per-shard
    sketches roll up without re-reading raw data. The exact distinct
    runs alongside only as the verification baseline."""
    ev = t(spark, sf_dir, "events")
    h = ev.select(
        "event_type",
        F.expr(_kmv_hash_sql("cast(user_id as string)")).alias("hv"),
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("hv")
    rk = h.withColumn("r", F.row_number().over(w))
    exact = h.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_exact"))
    kth = rk.filter(F.col("r") == KMV_K).select(
        "event_type", F.col("hv").alias("hvk")
    )
    per = exact.join(kth, "event_type", "left").select(
        "event_type",
        "n_exact",
        F.when(
            F.col("n_exact") >= KMV_K,
            F.expr(f"CAST({_KMV_SCALE} AS BIGINT) DIV hvk"),
        )
        .otherwise(F.col("n_exact"))
        .alias("n_est"),
    )
    merged = rk.filter(F.col("r") <= KMV_K).select("hv").distinct()
    mtop = (
        merged.orderBy("hv")
        .limit(KMV_K)
        .agg(F.max("hv").alias("hvk"), F.count(F.lit(1)).alias("kc"))
    )
    allrow = (
        h.agg(F.countDistinct("hv").alias("n_exact"))
        .crossJoin(mtop)  # two 1-row aggregates
        .select(
            F.lit("ALL").alias("event_type"),
            "n_exact",
            F.when(
                F.col("kc") >= KMV_K,
                F.expr(f"CAST({_KMV_SCALE} AS BIGINT) DIV hvk"),
            )
            .otherwise(F.col("n_exact"))
            .alias("n_est"),
        )
    )
    u = per.unionByName(allrow)
    return u.select(
        "event_type",
        "n_exact",
        "n_est",
        (F.abs(F.col("n_est") - F.col("n_exact")) * 4 <= F.col("n_exact")).alias(
            "est_ok"
        ),
    )


@query(
    "q_agg_winsorized",
    """
    WITH p AS (
      SELECT l_returnflag,
             quantile_cont(l_quantity, 0.05) AS p05,
             quantile_cont(l_quantity, 0.95) AS p95
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           round(min(p.p05), 4) AS p05,
           round(min(p.p95), 4) AS p95,
           CAST(sum(CASE WHEN l.l_quantity < p.p05 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_low,
           CAST(sum(CASE WHEN l.l_quantity > p.p95 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_high,
           round((sum(CASE WHEN l.l_quantity >= p.p05 AND l.l_quantity <= p.p95
                           THEN l.l_quantity ELSE 0 END)
                  + sum(CASE WHEN l.l_quantity < p.p05 THEN 1 ELSE 0 END) * min(p.p05)
                  + sum(CASE WHEN l.l_quantity > p.p95 THEN 1 ELSE 0 END) * min(p.p95))
                 / count(*), 4) AS win_mean
    FROM lineitem l JOIN p ON p.l_returnflag = l.l_returnflag
    GROUP BY l.l_returnflag
    """,
)
def q_agg_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean (5%/95% clamp) per group — the third member of
    the robust family next to q_agg_mad (robust spread) and
    q_ts_hampel (robust despike): the mean a reporting pipeline quotes
    when a handful of fat-finger rows would otherwise move it.

    Exactness without summing clamped doubles: the winsorized sum is
    DECOMPOSED as sum(mid values) + n_low*p05 + n_high*p95 — the mid
    sum is integral doubles (exact far past any probed scale), the two
    clamp terms are one int*double product each, and the three-term
    addition is written in the same textual order on both engines, so
    the only drift-absorbing round(,4) is presentational. Clamp
    comparisons are int-vs-interpolated-percentile doubles that both
    engines derive identically from the same integers.

    Scale shape: two passes (percentile cutpoints per group, then the
    clamp census) joined back via a groups-sized broadcast — the
    q_agg_mad plan family. Exact percentiles sort within groups; at
    100 TB swap approx_percentile gated by q_sketch_quantile_check."""
    li = t(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    p = (
        li.groupBy("l_returnflag")
        .agg(
            # one buffer+sort for both cutpoints (r12)
            F.percentile(
                "l_quantity", F.array(F.lit(0.05), F.lit(0.95))
            ).alias("px")
        )
        .select(
            "l_returnflag",
            F.element_at("px", 1).alias("p05"),
            F.element_at("px", 2).alias("p95"),
        )
    )
    j = li.join(F.broadcast(p), "l_returnflag")
    low = F.when(F.col("l_quantity") < F.col("p05"), 1).otherwise(0)
    high = F.when(F.col("l_quantity") > F.col("p95"), 1).otherwise(0)
    mid = F.when(
        (F.col("l_quantity") >= F.col("p05"))
        & (F.col("l_quantity") <= F.col("p95")),
        F.col("l_quantity"),
    ).otherwise(F.lit(0.0))
    return j.groupBy("l_returnflag").agg(
        r4(F.min("p05")).alias("p05"),
        r4(F.min("p95")).alias("p95"),
        F.sum(low).cast("long").alias("n_low"),
        F.sum(high).cast("long").alias("n_high"),
        r4(
            (
                F.sum(mid)
                + F.sum(low) * F.min("p05")
                + F.sum(high) * F.min("p95")
            )
            / F.count(F.lit(1))
        ).alias("win_mean"),
    )


def _kmv_side_sql(name: str, event_type: str) -> str:
    """CTE fragments for one side's distinct-user hash set."""
    return f"""
    {name} AS (
      SELECT DISTINCT {_kmv_hash_sql("CAST(user_id AS VARCHAR)")} AS hv
      FROM events WHERE event_type = '{event_type}'
    ),
    {name}_rk AS (
      SELECT hv, row_number() OVER (ORDER BY hv) AS r FROM {name}
    )"""


def _kmv_est_sql(n: str, rkcte: str) -> str:
    """Estimate expression: exact below k, (k-1)*M//R_k above."""
    return f"""CASE WHEN {n} >= {KMV_K}
         THEN CAST({_KMV_SCALE} // (SELECT hv FROM {rkcte} WHERE r = {KMV_K}) AS BIGINT)
         ELSE {n} END"""


@query(
    "q_sketch_kmv_intersect",
    f"""
    WITH {_kmv_side_sql("a", "purchase")},
    {_kmv_side_sql("b", "view")},
    u AS (
      SELECT DISTINCT hv FROM (
        SELECT hv FROM a_rk WHERE r <= {KMV_K}
        UNION ALL SELECT hv FROM b_rk WHERE r <= {KMV_K}) z
    ),
    u_rk AS (SELECT hv, row_number() OVER (ORDER BY hv) AS r FROM u),
    counts AS (
      SELECT (SELECT count(*) FROM a) AS n_a,
             (SELECT count(*) FROM b) AS n_b,
             (SELECT count(*) FROM (SELECT hv FROM a INTERSECT SELECT hv FROM b) i)
               AS n_inter,
             (SELECT count(*) FROM (SELECT hv FROM a UNION SELECT hv FROM b) q)
               AS n_union,
             (SELECT count(*) FROM u) AS n_usk
      FROM (SELECT 1) one
    )
    SELECT CAST(n_a AS BIGINT) AS n_a_exact,
           CAST(n_b AS BIGINT) AS n_b_exact,
           CAST(n_inter AS BIGINT) AS n_inter_exact,
           CAST({_kmv_est_sql("n_a", "a_rk")} AS BIGINT) AS est_a,
           CAST({_kmv_est_sql("n_b", "b_rk")} AS BIGINT) AS est_b,
           CAST({_kmv_est_sql("n_usk", "u_rk")} AS BIGINT) AS est_union,
           CAST({_kmv_est_sql("n_a", "a_rk")} + {_kmv_est_sql("n_b", "b_rk")}
                - {_kmv_est_sql("n_usk", "u_rk")} AS BIGINT) AS est_inter,
           abs(({_kmv_est_sql("n_a", "a_rk")} + {_kmv_est_sql("n_b", "b_rk")}
                - {_kmv_est_sql("n_usk", "u_rk")}) - n_inter) * 10
             <= 4 * n_union AS est_ok
    FROM counts
    """,
)
def q_sketch_kmv_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation estimation on KMV sketches: the purchase-user and
    view-user sketches MERGE (union + re-take-k) into a union sketch,
    and the overlap estimate falls out of inclusion-exclusion —
    est|A∩B| = est|A| + est|B| − est|A∪B| — all from the k smallest
    portable hashes per side, never re-reading raw data. The exact
    counts run alongside as the verification baseline (the
    q_sketch_bitmap_intersect shape, with sketches instead of exact
    bitmaps), and every estimate is a deterministic rank statistic the
    driver hashes exactly (the q_sketch_kmv property). est_ok gates
    the overlap error at 40% of the union size — the inclusion-
    exclusion bound, looser than the single-set gate because the
    estimate subtracts three correlated sketches.

    Scale shape: per-side sketches are order statistics (top-k heaps,
    k longs of state); the merge touches only 2k sketch values. The
    exact baseline does full distinct/intersect work and exists to
    verify, not to run at 100 TB."""
    ev = t(spark, sf_dir, "events")

    def side(et: str):
        h = (
            ev.filter(F.col("event_type") == et)
            .select(
                F.expr(_kmv_hash_sql("cast(user_id as string)")).alias("hv")
            )
            .distinct()
        )
        sk = h.orderBy("hv").limit(KMV_K)
        return h, sk

    ha, ska = side("purchase")
    hb, skb = side("view")
    usk = ska.unionByName(skb).distinct().orderBy("hv").limit(KMV_K)

    def est(h_or_sk, n_col):
        # 1-row frame: (count, kth value) -> estimate
        return h_or_sk.agg(
            F.count(F.lit(1)).alias(f"n_{n_col}"),
            F.max("hv").alias(f"rk_{n_col}"),
        )

    na = ha.agg(F.count(F.lit(1)).alias("n_a"))
    nb = hb.agg(F.count(F.lit(1)).alias("n_b"))
    ninter = ha.intersect(hb).agg(F.count(F.lit(1)).alias("n_inter"))
    nunion = ha.union(hb).distinct().agg(F.count(F.lit(1)).alias("n_union"))
    ea = est(ska, "ska")
    eb = est(skb, "skb")
    eu = est(usk, "usk")
    row = (
        na.crossJoin(nb)
        .crossJoin(ninter)
        .crossJoin(nunion)
        .crossJoin(F.broadcast(ea))
        .crossJoin(F.broadcast(eb))
        .crossJoin(F.broadcast(eu))
    )

    def est_expr(n_exact, rk):
        return F.when(
            F.col(n_exact) >= KMV_K,
            F.expr(f"CAST({_KMV_SCALE} AS BIGINT) DIV {rk}"),
        ).otherwise(F.col(n_exact))

    e_a = est_expr("n_a", "rk_ska")
    e_b = est_expr("n_b", "rk_skb")
    # union estimate uses the MERGED sketch's own size for the <k path
    e_u = F.when(
        F.col("n_usk") >= KMV_K,
        F.expr(f"CAST({_KMV_SCALE} AS BIGINT) DIV rk_usk"),
    ).otherwise(F.col("n_usk"))
    e_i = e_a + e_b - e_u
    return row.select(
        F.col("n_a").cast("long").alias("n_a_exact"),
        F.col("n_b").cast("long").alias("n_b_exact"),
        F.col("n_inter").cast("long").alias("n_inter_exact"),
        e_a.cast("long").alias("est_a"),
        e_b.cast("long").alias("est_b"),
        e_u.cast("long").alias("est_union"),
        e_i.cast("long").alias("est_inter"),
        (F.abs(e_i - F.col("n_inter")) * 10 <= 4 * F.col("n_union")).alias(
            "est_ok"
        ),
    )


# --- pairwise feature correlation matrix (round 7) --------------------

# The features: integral quantity, whole-dollar price (round-0 — cents
# would push sum(price^2) past BIGINT at probe scale), and the two
# exact integer-percent rates. Pair list shared by the Spark plan and
# the oracle generator so both enumerate identical rows.
CORR_FEATS = ("qty", "price", "disc", "tax")
CORR_PAIRS = tuple(
    (CORR_FEATS[i], CORR_FEATS[j])
    for i in range(len(CORR_FEATS))
    for j in range(i + 1, len(CORR_FEATS))
)


def _corr_rexpr(a: str, b: str) -> str:
    """Pearson r from exact BIGINT moments in ONE double expression —
    identical text evaluates on Spark SQL and DuckDB (the q_ts_acf
    recipe); zero-variance pairs yield NULL."""
    num = (
        f"(CAST(n AS DOUBLE) * CAST(sp_{a}_{b} AS DOUBLE)"
        f" - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
    )
    vx = (
        f"(CAST(n AS DOUBLE) * CAST(ss_{a} AS DOUBLE)"
        f" - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))"
    )
    vy = (
        f"(CAST(n AS DOUBLE) * CAST(ss_{b} AS DOUBLE)"
        f" - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
    )
    return (
        f"round(CASE WHEN {vx} * {vy} > 0"
        f" THEN {num} / sqrt({vx} * {vy}) ELSE NULL END, 4)"
    )


def _corr_matrix_oracle() -> str:
    mom = ", ".join(
        [f"CAST(sum({f}) AS BIGINT) AS s_{f}" for f in CORR_FEATS]
        + [f"CAST(sum({f}*{f}) AS BIGINT) AS ss_{f}" for f in CORR_FEATS]
        + [f"CAST(sum({a}*{b}) AS BIGINT) AS sp_{a}_{b}" for a, b in CORR_PAIRS]
    )
    arms = " UNION ALL ".join(
        f"SELECT l_returnflag, '{a}' AS feat_x, '{b}' AS feat_y, n,"
        f" {_corr_rexpr(a, b)} AS corr FROM w"
        for a, b in CORR_PAIRS
    )
    return f"""
    WITH f AS (
      SELECT l_returnflag,
             CAST(round(l_quantity, 0) AS BIGINT) AS qty,
             CAST(round(l_extendedprice, 0) AS BIGINT) AS price,
             {sql_pct("l_discount")} AS disc,
             {sql_pct("l_tax")} AS tax
      FROM lineitem
    ),
    w AS (
      SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n, {mom}
      FROM f GROUP BY l_returnflag
    )
    {arms}
    """


@query("q_agg_corr_matrix", _corr_matrix_oracle())
def q_agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix (upper triangle) of the four
    lineitem measures per return flag — the feature-correlation audit a
    training pipeline runs before feeding tabular features to a model
    (collinear features get dropped or merged).

    Exactness: every moment (Σx, Σx², Σxy, n) is an exact BIGINT over
    integral features — quantity and whole-dollar price (dollars, not
    cents, keep Σprice² under 2^63 with ~300x headroom at the 10x
    probe), integer-percent discount/tax — and each r is ONE identical
    double expression over those integers with round(,4) presentation
    and a NULL guard for zero variance.

    Scale shape: one hash aggregate on the 3-value flag key computes
    all 15 moments map-side-partially (the exchange moves a handful of
    rows whatever the input size); the 6 pair rows then explode from
    the wide row — no second pass over the data, no per-pair scan."""
    f = t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round("l_quantity", 0).cast("long").alias("qty"),
        F.round("l_extendedprice", 0).cast("long").alias("price"),
        pct(F.col("l_discount")).alias("disc"),
        pct(F.col("l_tax")).alias("tax"),
    )
    aggs = (
        [F.count(F.lit(1)).cast("long").alias("n")]
        + [F.sum(c).cast("long").alias(f"s_{c}") for c in CORR_FEATS]
        + [
            F.sum(F.col(c) * F.col(c)).cast("long").alias(f"ss_{c}")
            for c in CORR_FEATS
        ]
        + [
            F.sum(F.col(a) * F.col(b)).cast("long").alias(f"sp_{a}_{b}")
            for a, b in CORR_PAIRS
        ]
    )
    wide = f.groupBy("l_returnflag").agg(*aggs)
    pair_structs = F.array(
        *[
            F.struct(
                F.lit(a).alias("feat_x"),
                F.lit(b).alias("feat_y"),
                F.expr(_corr_rexpr(a, b)).alias("corr"),
            )
            for a, b in CORR_PAIRS
        ]
    )
    return (
        wide.select("l_returnflag", "n", F.explode(pair_structs).alias("p"))
        .select("l_returnflag", "p.feat_x", "p.feat_y", "n", "p.corr")
    )


GM_LN_SCALE = 1_000_000  # 1e-6 ln grid (q_text_entropy's recipe)


def _gm_lnq(x: str) -> str:
    return f"CAST(floor(ln(CAST({x} AS DOUBLE)) * {GM_LN_SCALE} + 0.5) AS BIGINT)"


_GEOMEAN_ORACLE = f"""
    WITH v AS (
      SELECT event_type, {sql_cents("value")} AS vc FROM events
      WHERE {sql_cents("value")} > 0
    ),
    c AS (
      SELECT event_type, vc, CAST(count(*) AS BIGINT) AS cnt
      FROM v GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type,
             CAST(sum(cnt) AS BIGINT) AS n,
             CAST(sum(cnt * {_gm_lnq("vc")}) AS BIGINT) AS slq
      FROM c GROUP BY 1
    )
    SELECT event_type, n AS n_events,
           CAST(slq // n AS BIGINT) AS mean_ln_micro,
           round(exp(CAST(slq // n AS DOUBLE) / {GM_LN_SCALE}.0) / 100.0, 4)
             AS geo_mean
    FROM m
"""


@query("q_agg_geomean", _GEOMEAN_ORACLE)
def q_agg_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric mean of event value per type — the right average for
    multiplicative/skewed quantities (rates, durations, prices),
    completing the central-tendency set next to the arithmetic mean
    (q_agg_stats), median (q_agg_percentile), mode (q_agg_mode), and
    winsorized/weighted variants. ln of each DISTINCT cent value is
    snapped once to the 1e-6 grid, the log-mean is one BIGINT floor
    division (hashed exactly), and the single exp + presentation
    division is rounded identically on both engines. Zeros are
    excluded (ln undefined), identically on both sides.

    Scale shape: corpus -> (type, cent-value) hash agg (ln evaluated
    once per distinct value on the bounded cent domain) -> one keyed
    rollup; map-side combinable throughout — q_agg_theil's plan with
    a different final functional."""
    v = t(spark, sf_dir, "events").select(
        "event_type", cents(F.col("value")).alias("vc")
    ).where(F.col("vc") > 0)
    c = v.groupBy("event_type", "vc").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    m = c.groupBy("event_type").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.expr(f"CAST(sum(cnt * {_gm_lnq('vc')}) AS BIGINT)").alias("slq"),
    )
    return m.select(
        "event_type",
        F.col("n").alias("n_events"),
        F.expr("CAST(slq DIV n AS BIGINT)").alias("mean_ln_micro"),
        r4(
            F.exp(F.expr("CAST(slq DIV n AS DOUBLE)") / GM_LN_SCALE) / 100.0
        ).alias("geo_mean"),
    )


@query(
    "q_agg_string_agg",
    """
    SELECT c_mktsegment,
           CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities,
           string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority)
             AS priorities
    FROM orders JOIN customer ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
)
def q_agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg) — the report-
    layer primitive that is nondeterministic by default: an unordered
    collect would hash differently run to run (and engine to engine),
    so the key DEFINES the deterministic form — distinct values,
    sorted, joined — and implements it as array_sort(collect_set(...))
    → array_join, the only ordering-stable spelling on a distributed
    engine. The per-group value domain (order priorities) is bounded,
    so collect_set state stays tiny no matter the corpus size.

    Scale shape: broadcast-joined dimension, one segment-keyed
    aggregate with map-side partial collect_sets; output is
    segment-cardinality-sized."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    return (
        o.join(
            F.broadcast(c.select("c_custkey", "c_mktsegment")),
            o["o_custkey"] == c["c_custkey"],
        )
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("o_orderpriority").cast("long").alias("n_priorities"),
            F.array_join(
                F.array_sort(F.collect_set("o_orderpriority")), ","
            ).alias("priorities"),
        )
    )
