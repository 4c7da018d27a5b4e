"""Lakehouse layout + maintenance patterns: incremental aggregate
maintenance and Z-order clustered writes with zone-map pruning.

Both keys target the table-management layer a 100 TB deployment lives
and dies by:

  * q_incremental_agg is the materialized-view delta algebra — merge a
    stored partial-aggregate state with a new-data delta instead of
    recomputing the world. Only algebraic aggregates (count/sum/min/
    max, and anything derivable from them at read time, like avg)
    survive the merge; the key demonstrates exactly that contract.
  * sink_zorder is the clustered-write + data-skipping story: interleave
    the bits of two query dimensions into one sort key, bucket the
    write by its prefix, and a 2-D box predicate then prunes most
    buckets from their min/max zone maps alone — multi-dimensional
    locality from a 1-D layout, which a plain sort on either single
    column cannot give both dimensions at once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jsmr_spark.compat import cents, r4, sql_cents
from jsmr_spark.queries.common import collected, scratch_dir, t
from jsmr_spark.registry import query

CUTOFF = "1999-01-01"


@query(
    "q_incremental_agg",
    f"""
    SELECT o_orderpriority, o_orderstatus,
           count(*) AS n_orders,
           CAST(sum({sql_cents("o_totalprice")}) AS BIGINT) AS sum_cents,
           min({sql_cents("o_totalprice")}) AS min_cents,
           max({sql_cents("o_totalprice")}) AS max_cents,
           round(CAST(sum({sql_cents("o_totalprice")}) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) / 100.0, 4) AS avg_price
    FROM orders
    GROUP BY o_orderpriority, o_orderstatus
    """,
)
def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: a stored partial-aggregate
    state (orders before the cutoff) merged with a fresh delta batch
    (orders on/after it) must equal the full recompute — which is
    exactly what the oracle computes.

    The merge uses the partial-aggregate algebra: counts and sums add,
    mins/maxes fold, and avg is DERIVED from merged sum/count at read
    time (averaging stored averages would weight batches, not rows —
    the classic incremental-pipeline bug this key exists to pin).
    Every key overlaps both batches, so the merge path is genuinely
    exercised, not a disjoint union.

    Shape at 100 TB: the state side is a tiny pre-aggregated table;
    only the delta scans raw data. Daily refresh cost is O(delta), not
    O(history) — the same contract as q_merge_dedup on the dedup side."""
    orders = t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderstatus",
        F.col("o_orderdate"),
        cents(F.col("o_totalprice")).alias("pc"),
    )

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority", "o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("pc").alias("sum_cents"),
            F.min("pc").alias("min_cents"),
            F.max("pc").alias("max_cents"),
        )

    state = partial(orders.where(F.col("o_orderdate") < F.lit(CUTOFF)))
    delta = partial(orders.where(F.col("o_orderdate") >= F.lit(CUTOFF)))
    return (
        state.unionByName(delta)
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("sum_cents").alias("sum_cents"),
            F.min("min_cents").alias("min_cents"),
            F.max("max_cents").alias("max_cents"),
        )
        .withColumn(
            "avg_price",
            r4(
                F.col("sum_cents").cast("double")
                / F.col("n_orders").cast("double")
                / F.lit(100.0)
            ),
        )
    )


# --- Z-order clustered sink ------------------------------------------

N_ZBITS = 8  # bits per dimension -> 16-bit z value
ZBUCKET_SHIFT = 12  # keep the top 4 z bits -> 16 write buckets
# Probe box for the skipping demo: one year of dates x one price band.
PROBE_DAY_LO = "1997-01-01"
PROBE_DAY_HI = "1997-12-31"
PROBE_CENTS_LO = 10_000_000  # 100k
PROBE_CENTS_HI = 20_000_000  # 200k


def _interleave_expr(x: str, y: str) -> str:
    """SQL expression interleaving the low N_ZBITS bits of x (even
    positions) and y (odd positions) — identical text works in Spark
    SQL and DuckDB (both support &, >>, << on integers)."""
    terms = []
    for i in range(N_ZBITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def _zorder_sql() -> str:
    """Shared bucket-derivation SQL (DuckDB oracle side).

    epoch-day and price-cents are normalized to [0, 2^N_ZBITS) with
    exact integer arithmetic against the table's own min/max, then
    bit-interleaved; the write bucket is the z prefix."""
    day = "(CAST(o_orderdate AS DATE) - DATE '1970-01-01')"
    pc = sql_cents("o_totalprice")
    return f"""
    WITH src AS (
      SELECT {day} AS d, {pc} AS pc FROM orders
    ),
    bounds AS (
      SELECT min(d) AS dlo, max(d) AS dhi, min(pc) AS plo, max(pc) AS phi
      FROM src
    ),
    norm AS (
      SELECT d, pc,
             ((d - dlo) * {(1 << N_ZBITS) - 1}) // (CASE WHEN dhi > dlo THEN dhi - dlo ELSE 1 END) AS nx,
             ((pc - plo) * {(1 << N_ZBITS) - 1}) // (CASE WHEN phi > plo THEN phi - plo ELSE 1 END) AS ny
      FROM src CROSS JOIN bounds
    ),
    z AS (
      SELECT d, pc, ({_interleave_expr("nx", "ny")}) >> {ZBUCKET_SHIFT} AS zbucket
      FROM norm
    )
    SELECT CAST(zbucket AS INTEGER) AS zbucket,
           count(*) AS n_rows,
           CAST(min(d) AS INTEGER) AS min_day, CAST(max(d) AS INTEGER) AS max_day,
           min(pc) AS min_cents, max(pc) AS max_cents,
           (min(d) <= (DATE '{PROBE_DAY_HI}' - DATE '1970-01-01')
            AND max(d) >= (DATE '{PROBE_DAY_LO}' - DATE '1970-01-01')
            AND min(pc) <= {PROBE_CENTS_HI}
            AND max(pc) >= {PROBE_CENTS_LO}) AS scanned
    FROM z GROUP BY zbucket
    """


@query("sink_zorder", _zorder_sql())
def sink_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered parquet sink + zone-map pruning proof.

    Orders are laid out on a 16-bit Z-value interleaving epoch-day and
    price-cents (each min/max-normalized to 8 bits with exact integer
    arithmetic — no float binning at bucket edges), written to one
    parquet directory per 4-bit Z prefix, and re-read to build the
    per-bucket zone map (min/max of both dimensions + row count). The
    `scanned` column evaluates a fixed 2-D box probe against the zone
    map exactly the way a lakehouse reader prunes row groups: a bucket
    is scanned iff its [min,max] envelope intersects the box.

    The oracle recomputes bucket assignment and zone maps straight from
    the source table, so the write+re-read round trip must preserve
    every row and the clustering math must agree bit for bit; the
    pruning claim itself is therefore value-checked, not asserted.

    Shape at 100 TB: the z computation is one narrow map after a 1-row
    global min/max aggregate; the clustered write is the only shuffle
    (repartition on zbucket). Z-ordering pays once at write time and
    every 2-D selective reader thereafter skips ~ (box area / domain
    area) of the files instead of one dimension's worth."""
    day = "(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01'))"
    src = t(spark, sf_dir, "orders").select(
        F.expr(day).alias("d"), cents(F.col("o_totalprice")).alias("pc")
    )
    bounds = src.agg(
        F.min("d").alias("dlo"),
        F.max("d").alias("dhi"),
        F.min("pc").alias("plo"),
        F.max("pc").alias("phi"),
    )
    hi = (1 << N_ZBITS) - 1
    norm = src.crossJoin(F.broadcast(bounds)).select(
        "d",
        "pc",
        F.expr(
            f"((d - dlo) * {hi}) DIV (CASE WHEN dhi > dlo THEN dhi - dlo ELSE 1 END)"
        ).alias("nx"),
        F.expr(
            f"((pc - plo) * {hi}) DIV (CASE WHEN phi > plo THEN phi - plo ELSE 1 END)"
        ).alias("ny"),
    )
    zed = norm.select(
        "d",
        "pc",
        F.expr(f"({_interleave_expr('nx', 'ny')}) >> {ZBUCKET_SHIFT}")
        .cast("int")
        .alias("zbucket"),
    )

    with scratch_dir("sink_zorder") as out_dir:
        (
            zed.repartition(F.col("zbucket"))
            .write.mode("overwrite")
            .partitionBy("zbucket")
            .parquet(out_dir)
        )
        # The schema just written (partition column last, as inference
        # orders it): inferring it again costs a Spark job per run.
        back = spark.read.schema("d int, pc long, zbucket int").parquet(out_dir)
        probe_lo = F.expr(f"datediff(DATE '{PROBE_DAY_LO}', DATE '1970-01-01')")
        probe_hi = F.expr(f"datediff(DATE '{PROBE_DAY_HI}', DATE '1970-01-01')")
        res = (
            back.groupBy("zbucket")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.min("d").alias("min_day"),
                F.max("d").alias("max_day"),
                F.min("pc").alias("min_cents"),
                F.max("pc").alias("max_cents"),
            )
            .select(
                F.col("zbucket").cast("int").alias("zbucket"),
                "n_rows",
                "min_day",
                "max_day",
                "min_cents",
                "max_cents",
                (
                    (F.col("min_day") <= probe_hi)
                    & (F.col("max_day") >= probe_lo)
                    & (F.col("min_cents") <= F.lit(PROBE_CENTS_HI))
                    & (F.col("max_cents") >= F.lit(PROBE_CENTS_LO))
                ).alias("scanned"),
            )
        )
        return collected(
            res,
            "zbucket int, n_rows long, min_day int, max_day int, "
            "min_cents long, max_cents long, scanned boolean",
        )


@query(
    "q_quality_constraints",
    """
    SELECT 'pk_unique_orders' AS constraint_name,
           CAST(count(*) AS BIGINT) AS n_checked,
           CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS n_violations,
           count(*) = count(DISTINCT o_orderkey) AS ok
    FROM orders
    UNION ALL
    SELECT 'fk_lineitem_orders',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey)),
           (SELECT count(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey)) = 0
    UNION ALL
    SELECT 'not_null_custkey',
           CAST(count(*) AS BIGINT),
           CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT),
           count(*) FILTER (WHERE o_custkey IS NULL) = 0
    FROM orders
    UNION ALL
    SELECT 'positive_price',
           CAST(count(*) AS BIGINT),
           CAST(count(*) FILTER (WHERE o_totalprice <= 0) AS BIGINT),
           count(*) FILTER (WHERE o_totalprice <= 0) = 0
    FROM orders
    UNION ALL
    SELECT 'date_in_range',
           CAST(count(*) AS BIGINT),
           CAST(count(*) FILTER (WHERE o_orderdate < TIMESTAMP '1990-01-01'
                                    OR o_orderdate >= TIMESTAMP '2010-01-01')
                AS BIGINT),
           count(*) FILTER (WHERE o_orderdate < TIMESTAMP '1990-01-01'
                               OR o_orderdate >= TIMESTAMP '2010-01-01') = 0
    FROM orders
    """,
)
def q_quality_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality constraint report (the dbt-test /
    Deequ-verification shape): PK uniqueness, FK orphan count, NOT
    NULL, and two domain checks, each emitted as (constraint, checked,
    violations, ok) — data, not assertions, so downstream gating can
    join on it and the oracle hash-checks every count.

    Shape at 100 TB: uniqueness and null/domain checks are one
    map-side-combined aggregate per table scan (all five constraints
    here share two scans); the FK check is a broadcast-or-shuffle
    anti-join counted, never materialized. This is the verification
    pass a lakehouse runs after every batch commit, expressed in the
    same declarative plan Catalyst optimizes like any other query."""
    orders = t(spark, sf_dir, "orders")
    lineitem = t(spark, sf_dir, "lineitem")

    pk = orders.agg(
        F.lit("pk_unique_orders").alias("constraint_name"),
        F.count(F.lit(1)).alias("n_checked"),
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey")).alias("n_violations"),
        (F.count(F.lit(1)) == F.count_distinct("o_orderkey")).alias("ok"),
    )
    n_li = lineitem.count()
    orphans = lineitem.join(
        orders.select("o_orderkey"),
        lineitem.l_orderkey == F.col("o_orderkey"),
        "left_anti",
    ).count()
    fk = spark.createDataFrame(
        [("fk_lineitem_orders", n_li, orphans, orphans == 0)],
        "constraint_name string, n_checked long, n_violations long, ok boolean",
    )

    def check(name: str, bad: F.Column) -> DataFrame:
        return orders.agg(
            F.lit(name).alias("constraint_name"),
            F.count(F.lit(1)).alias("n_checked"),
            F.count(F.when(bad, 1)).alias("n_violations"),
            (F.count(F.when(bad, 1)) == 0).alias("ok"),
        )

    nn = check("not_null_custkey", F.col("o_custkey").isNull())
    pp = check("positive_price", F.col("o_totalprice") <= 0)
    dr = check(
        "date_in_range",
        (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp"))
        | (F.col("o_orderdate") >= F.lit("2010-01-01").cast("timestamp")),
    )
    return pk.unionByName(fk).unionByName(nn).unionByName(pp).unionByName(dr)


# --- snapshot diff / change-data generation --------------------------

from jsmr_spark.queries.dedup import hex12_sql  # noqa: E402

_SNAP_BUCKET_SPARK = f"({hex12_sql('md5(cast(doc_id as string))')} % 100)"
_SNAP_BUCKET_DUCK = f"({hex12_sql('md5(CAST(doc_id AS VARCHAR))')} % 100)"
SNAP_ADD_SHIFT = 1_000_000_000


def _snapshot_b_duck() -> str:
    """Deterministic snapshot B: docs bucket<5 deleted, 5..14 edited,
    bucket>=95 cloned as brand-new ids — a pure function of doc_id so
    both engines derive the identical second snapshot."""
    return f"""
      SELECT doc_id, text FROM (
        SELECT doc_id,
               CASE WHEN {_SNAP_BUCKET_DUCK} BETWEEN 5 AND 14
                    THEN text || ' v2' ELSE text END AS text,
               {_SNAP_BUCKET_DUCK} AS b
        FROM documents) WHERE b >= 5
      UNION ALL
      SELECT doc_id + {SNAP_ADD_SHIFT} AS doc_id, text || ' new' AS text
      FROM documents WHERE {_SNAP_BUCKET_DUCK} >= 95
    """


@query(
    "q_snapshot_diff",
    f"""
    WITH b AS ({_snapshot_b_duck()})
    SELECT CASE WHEN b.doc_id IS NULL THEN 'removed'
                WHEN a.doc_id IS NULL THEN 'added'
                WHEN md5(a.text) <> md5(b.text) THEN 'changed'
                ELSE 'unchanged' END AS status,
           count(*) AS n_docs,
           min(coalesce(a.doc_id, b.doc_id)) AS min_doc_id,
           max(coalesce(a.doc_id, b.doc_id)) AS max_doc_id
    FROM documents a FULL OUTER JOIN b ON a.doc_id = b.doc_id
    GROUP BY 1
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff / change-data-feed generation (the Delta Lake
    `table_changes` / Iceberg incremental-read shape, computed the
    portable way): full-outer join two corpus snapshots on the primary
    key, classify every row added / removed / changed / unchanged by
    content digest, and report per-class counts + id ranges. Snapshot
    B is derived deterministically from snapshot A (bucket<5 deleted,
    5-14 edited, >=95 cloned under fresh ids), so the diff is exactly
    reproducible cross-engine.

    Scale shape: ONE keyed full-outer join (both sides shuffle on the
    pk; AQE picks the strategy) and digests compare md5 — 16 bytes per
    row of comparison work regardless of document size. A metadata-
    backed lakehouse short-circuits unchanged FILES from snapshot
    manifests before this row-level pass; this operator is the
    row-level truth it falls back to (and the generator of the CDC
    rows the stream_cdc_apply key consumes downstream)."""
    docs = t(spark, sf_dir, "documents")
    bucket = F.expr(_SNAP_BUCKET_SPARK)
    base = docs.select("doc_id", "text", bucket.alias("b"))
    edited = base.filter(F.col("b") >= 5).select(
        "doc_id",
        F.when(F.col("b").between(5, 14), F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    added = base.filter(F.col("b") >= 95).select(
        (F.col("doc_id") + SNAP_ADD_SHIFT).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" new")).alias("text"),
    )
    snap_b = edited.unionByName(added)
    a = docs.select(F.col("doc_id").alias("a_id"), F.col("text").alias("a_text"))
    b = snap_b.select(F.col("doc_id").alias("b_id"), F.col("text").alias("b_text"))
    j = a.join(b, F.col("a_id") == F.col("b_id"), "full_outer")
    status = (
        F.when(F.col("b_id").isNull(), "removed")
        .when(F.col("a_id").isNull(), "added")
        .when(F.md5("a_text") != F.md5("b_text"), "changed")
        .otherwise("unchanged")
    )
    return (
        j.select(status.alias("status"), F.coalesce("a_id", "b_id").alias("doc_id"))
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


KANON_K = 5  # minimum group size for a quasi-identifier combination


@query(
    "q_privacy_kanon",
    f"""
    SELECT lang, source,
           CAST(n_chars // 100 AS BIGINT) AS len_bucket,
           count(*) AS n_docs
    FROM documents
    GROUP BY lang, source, n_chars // 100
    HAVING count(*) < {KANON_K}
    """,
)
def q_privacy_kanon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (governance twin of q_quality_constraints):
    every quasi-identifier combination — (lang, source, 100-char
    length bucket) — whose group is smaller than k={KANON_K} is a
    re-identification risk and must be generalized or suppressed
    before release; the report lists exactly those groups.

    Scale shape: one hash aggregate with map-side partial counts and
    the HAVING filter applied post-merge — the same plan as any keyed
    count at 100 TB; cardinality is bounded by the QI domain, not the
    corpus."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select(
            "lang",
            "source",
            F.floor(F.col("n_chars") / 100).cast("long").alias("len_bucket"),
        )
        .groupBy("lang", "source", "len_bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") < KANON_K)
    )


LDIV_L = 3  # minimum distinct sensitive values per quasi-identifier group


@query(
    "q_privacy_ldiv",
    f"""
    SELECT lang, source,
           CAST(n_chars // 100 AS BIGINT) AS len_bucket,
           count(*) AS n_docs,
           count(DISTINCT string_split(text, ' ')[1]) AS n_topics
    FROM documents
    GROUP BY lang, source, n_chars // 100
    HAVING count(DISTINCT string_split(text, ' ')[1]) < {LDIV_L}
    """,
)
def q_privacy_ldiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007), the companion
    to q_privacy_kanon: a group can satisfy k-anonymity yet still leak
    if everyone in it shares the same sensitive value, so this reports
    every quasi-identifier group — (lang, source, 100-char length
    bucket) — carrying fewer than l={LDIV_L} distinct sensitive values
    (the leading token stands in for the sensitive attribute; swap the
    expression for the real column in a deployment).

    Scale shape: one hash aggregate with a distinct-count — Catalyst
    expands count(DISTINCT) to a two-level aggregate whose first level
    dedups (group, value) pairs map-side, so the exchange is bounded
    by the QI x sensitive domain, not the corpus; HAVING applies
    post-merge like q_privacy_kanon."""
    d = t(spark, sf_dir, "documents")
    topic = F.element_at(F.split(F.col("text"), " "), 1)
    return (
        d.select(
            "lang",
            "source",
            F.floor(F.col("n_chars") / 100).cast("long").alias("len_bucket"),
            topic.alias("topic"),
        )
        .groupBy("lang", "source", "len_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("topic").alias("n_topics"),
        )
        .filter(F.col("n_topics") < LDIV_L)
    )


TCLOSE_NUM, TCLOSE_DEN = 2, 5  # t-closeness threshold t = 2/5 = 0.4 (exact)


@query(
    "q_privacy_tclose",
    f"""
    WITH g AS (
      SELECT lang, source, n_chars // 100 AS lb,
             string_split(text, ' ')[1] AS topic
      FROM documents
    ),
    grp AS (SELECT lang, source, lb, count(*) AS ng FROM g GROUP BY 1, 2, 3),
    top_g AS (
      SELECT lang, source, lb, topic, count(*) AS cgt FROM g GROUP BY 1, 2, 3, 4
    ),
    topd AS (SELECT topic, count(*) AS ct FROM g GROUP BY 1),
    tot AS (SELECT count(*) AS n FROM g),
    dense AS (
      SELECT grp.lang, grp.source, grp.lb, grp.ng, topd.topic, topd.ct,
             coalesce(top_g.cgt, 0) AS cgt, tot.n
      FROM grp
      CROSS JOIN topd
      LEFT JOIN top_g ON top_g.lang = grp.lang AND top_g.source = grp.source
                     AND top_g.lb = grp.lb AND top_g.topic = topd.topic
      CROSS JOIN tot
    ),
    tv AS (
      SELECT lang, source, lb, ng, max(n) AS n,
             CAST(sum(abs(cgt * n - ct * ng)) AS BIGINT) AS num
      FROM dense GROUP BY 1, 2, 3, 4
    )
    SELECT lang, source, CAST(lb AS BIGINT) AS len_bucket,
           CAST(ng AS BIGINT) AS n_docs,
           num AS tvd_num,
           round(num / CAST(2 * ng * n AS DOUBLE), 4) AS tvd
    FROM tv
    WHERE {TCLOSE_DEN} * num > {TCLOSE_NUM} * 2 * ng * n
    """,
)
def q_privacy_tclose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li et al. 2007) — the third rung of the
    privacy ladder after q_privacy_kanon (group size) and
    q_privacy_ldiv (distinct sensitive values): a group is still
    leaky if its sensitive-value DISTRIBUTION diverges from the
    corpus-wide one, so this reports every quasi-identifier group
    whose total-variation distance to the global topic distribution
    exceeds t = 0.4. TVD is exact: the numerator sum|cgt*N - ct*ng|
    is pure BIGINT cross-multiplication (valid to ~3e9 docs; past
    that, downscale counts by a common factor), the threshold is an
    integer comparison, and the reported tvd double is one final
    division.

    Scale shape: two keyed counts over the corpus, then the dense
    (group x topic) comparison runs on the QI-domain x topic-domain
    table (broadcast topic side) — never corpus-sized."""
    d = t(spark, sf_dir, "documents")
    g = d.select(
        "lang",
        "source",
        F.floor(F.col("n_chars") / 100).alias("lb"),
        F.element_at(F.split(F.col("text"), " "), 1).alias("topic"),
    )
    grp = g.groupBy("lang", "source", "lb").agg(F.count(F.lit(1)).alias("ng"))
    top_g = g.groupBy("lang", "source", "lb", "topic").agg(
        F.count(F.lit(1)).alias("cgt")
    )
    topd = g.groupBy("topic").agg(F.count(F.lit(1)).alias("ct"))
    tot = g.agg(F.count(F.lit(1)).alias("n"))
    dense = (
        grp.crossJoin(F.broadcast(topd))
        .join(top_g, ["lang", "source", "lb", "topic"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "source",
            "lb",
            "ng",
            "ct",
            F.coalesce(F.col("cgt"), F.lit(0)).alias("cgt"),
            "n",
        )
    )
    tv = dense.groupBy("lang", "source", "lb", "ng").agg(
        F.max("n").alias("n"),
        F.sum(F.abs(F.col("cgt") * F.col("n") - F.col("ct") * F.col("ng"))).alias(
            "num"
        ),
    )
    return tv.filter(
        TCLOSE_DEN * F.col("num") > TCLOSE_NUM * 2 * F.col("ng") * F.col("n")
    ).select(
        "lang",
        "source",
        F.col("lb").cast("long").alias("len_bucket"),
        F.col("ng").cast("long").alias("n_docs"),
        F.col("num").alias("tvd_num"),
        r4(F.col("num") / (2 * F.col("ng") * F.col("n")).cast("double")).alias("tvd"),
    )


DP_LN_SCALE = 1_000_000  # 1e-6 grid for the quantized ln (text.py recipe)
DP_U_DOM = 1_048_576  # 2^20 uniform grid for the inverse-CDF draw
_DP_LNQ_DOM = 13_862_944  # ln(2^20) on the 1e-6 grid


def _dp_lnq(x: str) -> str:
    return f"CAST(floor(ln(CAST({x} AS DOUBLE)) * {DP_LN_SCALE} + 0.5) AS BIGINT)"


def _dp_noise_sql(seed_expr: str, div: str) -> str:
    """Laplace(b=1) noise in whole counts from a hash-uniform draw.

    Inverse CDF: u ~ U(0,1) => noise = -sign(u-1/2) * ln(1-2|u-1/2|).
    u comes from the portable md5 hash on a 2^20 grid, ln() is snapped
    to the 1e-6 grid (q_text_entropy's recipe), and the magnitude is
    rounded half-up BEFORE the sign is applied — floor division on a
    non-negative quantity, so Spark's truncating DIV and DuckDB's
    floor // agree (they diverge on negatives; `div` spells the
    engine's integer-division operator)."""
    u = f"({hex12_sql(f'md5({seed_expr})')} % {DP_U_DOM})"
    r = f"greatest({DP_U_DOM} - 2 * abs({u} - {DP_U_DOM // 2}), 1)"
    mag = f"(({_DP_LNQ_DOM} - {_dp_lnq(r)} + {DP_LN_SCALE // 2}) {div} {DP_LN_SCALE})"
    sign = f"(CASE WHEN {u} >= {DP_U_DOM // 2} THEN 1 ELSE -1 END)"
    return f"CAST({sign} * {mag} AS BIGINT)"


_DP_SEED_DUCK = "concat(event_type, '|', CAST(CAST(ts AS DATE) AS VARCHAR))"
_DP_SEED_SPARK = "concat(event_type, '|', CAST(CAST(ts AS DATE) AS STRING))"


def _dp_oracle() -> str:
    noise = _dp_noise_sql("seed", "//")
    return f"""
    WITH c AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             {_DP_SEED_DUCK} AS seed,
             CAST(count(*) AS BIGINT) AS true_count
      FROM events GROUP BY 1, 2, 3
    )
    SELECT event_type, day,
           {noise} AS noise,
           CAST(true_count + {noise} AS BIGINT) AS released_count
    FROM c
    """


@query("q_privacy_dp_count", _dp_oracle())
def q_privacy_dp_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private-style histogram release: per
    (event_type, day) counts plus Laplace(b=1/eps, eps=1) noise — the
    Dwork et al. 2006 counting-query mechanism, the release step after
    the k-anonymity / l-diversity / t-closeness audits earlier in this
    module. The noise draw here is DETERMINISTIC (inverse-CDF from the
    portable hash of the cell key) so the key stays hash-checked
    end-to-end across engines; a production release swaps the seed for
    a real RNG — the mechanism, scale, and integer rounding recipe
    (helper docstring) are exactly what ships, and determinism is what
    makes them testable. The noise column is emitted for that audit;
    a real release drops it.

    Scale shape: one keyed hash aggregate over events, then pure
    row-local arithmetic — map-side combinable, no second shuffle."""
    noise = _dp_noise_sql("seed", "DIV")
    c = (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            F.expr(_DP_SEED_SPARK).alias("seed"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("true_count"))
    )
    return c.select(
        "event_type",
        "day",
        F.expr(noise).alias("noise"),
        F.expr(f"CAST(true_count + {noise} AS BIGINT)").alias("released_count"),
    )


GEN_K = 5  # k-anonymity target for the generalization ladder
GEN_LEVELS = (100, 1_000, 10_000)  # cents -> dollar -> 10-dollar -> 100-dollar


def _generalize_oracle() -> str:
    per_level = []
    for lvl, g in enumerate(GEN_LEVELS):
        per_level.append(f"""
    l{lvl} AS (
      SELECT {lvl} AS level,
             CAST(count(*) AS BIGINT) AS n_cells,
             CAST(min(n) AS BIGINT) AS min_cell,
             CAST(sum(CASE WHEN n < {GEN_K} THEN n ELSE 0 END) AS BIGINT)
               AS n_exposed_rows
      FROM (
        SELECT event_type, {sql_cents("value")} // {g} AS qb,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
      )
    )""")
        # noqa: E501
    union = " UNION ALL ".join(f"SELECT * FROM l{i}" for i in range(len(GEN_LEVELS)))
    return f"""
    WITH {", ".join(p.strip() for p in per_level)},
    lv AS ({union}),
    chosen AS (
      SELECT coalesce(min(level), {len(GEN_LEVELS)}) AS c FROM lv
      WHERE min_cell >= {GEN_K}
    )
    SELECT level, n_cells, min_cell, n_exposed_rows,
           CAST(CASE WHEN level = (SELECT c FROM chosen) THEN 1 ELSE 0 END
                AS INTEGER) AS chosen
    FROM lv
"""


@query("q_privacy_generalize", _generalize_oracle())
def q_privacy_generalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity generalization ladder (Sweeney 2002's
    generalization step, made declarative): the quasi-identifier
    (event_type, value bucket) is evaluated at three coarsening levels
    — dollar, 10-dollar, 100-dollar buckets — and the report gives
    each level's cell count, smallest cell, and rows exposed in
    sub-k cells, with the MINIMAL level achieving k >= {GEN_K}
    flagged. This is the decision table the k-anonymity audit
    (q_privacy_kanon) feeds: not just "are we safe" but "how much
    resolution must we give up to become safe". All counts exact;
    the chosen-level rule is a 1-row broadcast aggregate.

    Scale shape: one keyed hash aggregate per level (three corpus
    scans of a narrow projection — or one scan with grouping sets in
    a variant; the explicit form keeps each level's plan trivially
    auditable), then control-plane rollups. Map-side combinable."""
    per_level = []
    for lvl, g in enumerate(GEN_LEVELS):
        cells = (
            t(spark, sf_dir, "events")
            .select(cents(F.col("value")).alias("vc"), "event_type")
            .groupBy("event_type", F.expr(f"vc DIV {g}").alias("qb"))
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        per_level.append(
            cells.agg(
                F.lit(lvl).cast("long").alias("level"),
                F.count(F.lit(1)).cast("long").alias("n_cells"),
                F.min("n").cast("long").alias("min_cell"),
                F.sum(F.when(F.col("n") < GEN_K, F.col("n")).otherwise(0))
                .cast("long")
                .alias("n_exposed_rows"),
            )
        )
    lv = per_level[0]
    for x in per_level[1:]:
        lv = lv.unionByName(x)
    chosen = lv.where(F.col("min_cell") >= GEN_K).agg(
        F.coalesce(F.min("level"), F.lit(len(GEN_LEVELS))).alias("c")
    )
    return lv.crossJoin(F.broadcast(chosen)).select(
        "level",
        "n_cells",
        "min_cell",
        "n_exposed_rows",
        F.expr("CAST(CASE WHEN level = c THEN 1 ELSE 0 END AS INT)").alias(
            "chosen"
        ),
    )
