"""Deterministic sampling and grid-blocked spatial join.

  * q_sample_reservoir — the distributed form of per-group uniform
    k-sampling. A driver-side reservoir does not scale and a seeded
    rand() is engine-specific, so the portable implementation ranks
    each group by a cryptographic hash of the row key: md5 is uniform,
    identical on both engines, and turns sampling into a deterministic
    per-group top-k. Re-running on any cluster size yields the same
    sample — the property training-data pipelines need for
    reproducible holdouts.

  * q_geo_gridjoin — the radius-join blocking pattern: bucket points
    into R-sized grid cells, generate candidates only from the 3x3
    neighborhood, verify the exact distance predicate. The fixtures
    ship no geo columns, so planar coordinates are derived
    deterministically from user_id (exact integer math on both
    engines); the grid-blocking topology is the operator. Distances
    stay exact: the radius test is an integer dx^2+dy^2 compare and
    the reported distance is sqrt of that exact integer (correctly
    rounded IEEE, bit-identical cross-engine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jsmr_spark.queries.common import persisted, t
from jsmr_spark.registry import query

SAMPLE_K = 50

GEO_DOMAIN = 1_000_000  # 1000 km square, meters
GEO_RADIUS = 50_000  # 50 km radius -> cell size == radius
GEO_PX, GEO_PY = 9_973, 31_511  # coordinate-derivation primes


@query(
    "q_sample_reservoir",
    f"""
    WITH ranked AS (
      SELECT lang, doc_id,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rank
      FROM documents
    )
    SELECT lang, doc_id, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= {SAMPLE_K}
    """,
)
def q_sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language uniform K-sample via hash ranking:
    order each group by md5(doc_id) and keep the first K.

    md5 of the decimal doc_id string is byte-identical on both engines
    and uniform over the key space, so this is an unbiased sample that
    is also exactly reproducible — unlike rand(seed), which no two
    engines (or even two partitionings) evaluate identically.

    Shape at 100 TB: one keyed shuffle on the group column and a
    per-group top-K window. For groups too hot for one reducer the
    refinement is the two-pass trick: pre-filter on a hash prefix
    (md5 < epsilon-quantile estimate) before ranking — same operator,
    one extra narrow filter."""
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        t(spark, sf_dir, "documents")
        .select("lang", "doc_id")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= SAMPLE_K)
    )


# Shared with q_graph_triangles (graph.py): the oracle-side edge set in
# CTE form — the honest all-pairs join the blocked Spark path must match.
GEO_PTS_SQL = f"""
      SELECT DISTINCT user_id,
             (user_id * {GEO_PX}) % {GEO_DOMAIN} AS x,
             (user_id * {GEO_PY}) % {GEO_DOMAIN} AS y
      FROM events
"""


def geo_edges_sql(radius: int = GEO_RADIUS) -> str:
    """Oracle edge CTE (all-pairs) at the given radius."""
    return f"""
      SELECT a.user_id AS user_a, b.user_id AS user_b,
             (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
      FROM pts a JOIN pts b ON a.user_id < b.user_id
      WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
              <= {radius * radius}
    """


GEO_EDGES_SQL = geo_edges_sql()


def geo_pairs(spark: SparkSession, sf_dir: str, radius: int = GEO_RADIUS) -> DataFrame:
    """Blocked radius self-join: all (user_a < user_b) pairs within
    `radius` (cell size == radius), with the exact integer squared
    distance as `d2`.

    Grid-cell blocking: candidates come only from the 3x3 neighborhood
    of radius-sized cells; each true pair matches for exactly one
    neighbor offset (it differs by at most one cell index per axis),
    so no dedup pass is needed."""
    pts = (
        t(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select(
            "user_id",
            (F.col("user_id") * GEO_PX % GEO_DOMAIN).alias("x"),
            (F.col("user_id") * GEO_PY % GEO_DOMAIN).alias("y"),
        )
        .withColumn("cx", F.expr(f"x DIV {radius}"))
        .withColumn("cy", F.expr(f"y DIV {radius}"))
    )
    offsets = (
        spark.range(9)
        .select(
            (F.col("id") % 3 - 1).alias("dx"),
            (F.col("id") / 3).cast("long").alias("dy"),
        )
        .select("dx", (F.col("dy") - 1).alias("dy"))
    )
    a = pts.alias("a").crossJoin(F.broadcast(offsets))
    b = pts.alias("b")
    d2 = (F.col("a.x") - F.col("b.x")) * (F.col("a.x") - F.col("b.x")) + (
        F.col("a.y") - F.col("b.y")
    ) * (F.col("a.y") - F.col("b.y"))
    return (
        a.join(
            b,
            (F.col("a.cx") + F.col("dx") == F.col("b.cx"))
            & (F.col("a.cy") + F.col("dy") == F.col("b.cy"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .where(d2 <= F.lit(radius * radius))
        .select(
            F.col("a.user_id").alias("user_a"),
            F.col("b.user_id").alias("user_b"),
            d2.alias("d2"),
        )
    )


@query(
    "q_geo_gridjoin",
    f"""
    WITH pts AS ({GEO_PTS_SQL}),
    e AS ({GEO_EDGES_SQL})
    SELECT user_a, user_b,
           CAST(round(sqrt(CAST(d2 AS DOUBLE)), 0) AS BIGINT) AS dist_m
    FROM e
    """,
)
def q_geo_gridjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius self-join (all point pairs within 50 km) via grid-cell
    blocking: points bucket into radius-sized cells, candidate pairs
    come only from the 3x3 cell neighborhood, and the exact integer
    dx^2+dy^2 predicate verifies each candidate. The oracle does the
    honest all-pairs cross join — at fixture scale that is fine, at
    100 TB only the blocked form survives (candidates scale with local
    density, not N^2).

    Each true pair is generated exactly once: a pair within the radius
    differs by at most one cell index per axis, and the (a-offsets x
    b-exact-cell, a < b) join matches it for exactly one offset.

    Coordinates are synthetic (prime-multiplied user_id modulo a
    1000 km square — the fixtures have no geo columns) but exact:
    integer positions, integer squared distances, and a correctly-
    rounded IEEE sqrt for the reported distance, so the radius test
    can never flip between engines (no trig in the hash path)."""
    return geo_pairs(spark, sf_dir).select(
        "user_a",
        "user_b",
        # floor(sqrt+0.5) == round-half-away; sqrt(int) can never
        # land exactly on x.5, so this matches DuckDB round(,0).
        F.floor(F.sqrt(F.col("d2").cast("double")) + F.lit(0.5))
        .cast("long")
        .alias("dist_m"),
    )


# --- weighted sampling without replacement ----------------------------

WEIGHTED_K = 30
PRI_SCALE = 16384  # 2^14 of sub-ratio precision in the integer priority


def _weighted_pri_sql(id_cast: str) -> str:
    """Scaled hash numerator u*SCALE of the integer priority u*SCALE//w.

    u = hex12(md5(doc_id)) < 2^48, so u * 2^14 < 2^62 stays in BIGINT;
    integer division by the weight keeps the whole order exact — no
    pow/log/float anywhere, so Spark and DuckDB rank identically."""
    from jsmr_spark.queries.dedup import hex12_sql

    u = hex12_sql(f"md5({id_cast})")
    return f"(({u}) * CAST({PRI_SCALE} AS BIGINT))"


@query(
    "q_sample_weighted",
    f"""
    WITH d AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             {_weighted_pri_sql("CAST(doc_id AS VARCHAR)")}
               // CAST(len(string_split(text, ' ')) AS BIGINT) AS priority
      FROM documents
    ),
    r AS (
      SELECT *, row_number() OVER (ORDER BY priority, doc_id) AS rank
      FROM d
    )
    SELECT CAST(rank AS INTEGER) AS rank, doc_id, lang, n_tokens, priority
    FROM r WHERE rank <= {WEIGHTED_K}
    """,
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample without replacement via priority sampling
    (Duffield, Lund & Thorup 2007): each document draws priority
    u/w — u uniform from the portable md5 hash of doc_id, w the token
    count — and the k smallest priorities win, so long documents are
    proportionally more likely to be kept (the usual length-weighted
    curation draw). The float-free twist: priority is the exact
    integer (u * 2^14) DIV w, so the order is bit-reproducible across
    engines, runs, and cluster sizes — same portability contract as
    q_sample_reservoir, which is this operator's uniform special case.

    Shape at 100 TB: one narrow map (hash + token count per row) into
    a global top-k — TakeOrderedAndProject keeps per-partition heaps of
    k rows and merges k*partitions rows on one reducer; no full sort,
    no shuffle of the corpus."""
    u = F.expr(_weighted_pri_sql("cast(doc_id as string)"))
    d = (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "lang",
            F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
            u.alias("num"),
        )
        .select(
            "doc_id", "lang", "n_tokens", F.expr("num DIV n_tokens").alias("priority")
        )
    )
    top = d.orderBy(F.asc("priority"), F.asc("doc_id")).limit(WEIGHTED_K)
    w = Window.orderBy(F.asc("priority"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "doc_id", "lang", "n_tokens", "priority"
    )


BALANCED_CAP = 10  # per-class row cap for the balanced downsample


def _balanced_rank_sql(id_cast: str) -> str:
    """Portable per-class ordering key: the 48-bit integer prefix of
    md5(doc_id's decimal string) — uniform, engine-identical."""
    from jsmr_spark.queries.dedup import hex12_sql

    return hex12_sql(f"md5({id_cast})")


@query(
    "q_sample_balanced",
    f"""
    WITH r AS (
      SELECT lang, doc_id,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY {_balanced_rank_sql("CAST(doc_id AS VARCHAR)")}, doc_id
             ) AS rk
      FROM documents
    )
    SELECT lang,
           count(*) AS n_total,
           CAST(sum(CASE WHEN rk <= {BALANCED_CAP} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN rk <= {BALANCED_CAP} THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_sum
    FROM r GROUP BY lang
    """,
)
def q_sample_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsample: cap every class (language) at
    BALANCED_CAP rows, chosen by ranking each class on the portable
    md5 hash of the row id — the deterministic form of 'sample K per
    class', the standard rebalancing step before training on a corpus
    whose class mix is skewed (en dominates every web crawl). No
    rand(): a rescaled or reshuffled rerun keeps the identical sample.

    The hash lets the driver pin MEMBERSHIP, not just counts: the
    kept_id_sum column is the exact sum of the kept doc_ids, so any
    drift in which rows are selected fails the hash even when the
    count survives.

    Scale shape: one hash-partitioned window per class (row_number
    over the class partition) and one hash-agg — a single exchange on
    the class key. Class skew is real here (en IS the hot key): at
    100 TB the row_number window on the dominant class serializes one
    partition, so the scale path pre-filters with a per-partition
    top-K (rank only rows whose hash falls under an
    upper-bound-of-cap quantile) before the global window; the
    operator keeps the direct form because cap << class size makes
    the window's sort the same cost as the scan."""
    h = F.expr(_balanced_rank_sql("cast(doc_id as string)"))
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    r = (
        t(spark, sf_dir, "documents")
        .select("lang", "doc_id")
        .withColumn("rk", F.row_number().over(w))
    )
    kept = F.col("rk") <= BALANCED_CAP
    return r.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.when(kept, F.col("doc_id")).otherwise(0)).cast("long").alias("kept_id_sum"),
    )


GEO_KNN_K = 3


@query(
    "q_geo_knn",
    f"""
    WITH pts AS ({GEO_PTS_SQL}),
    e AS ({GEO_EDGES_SQL}),
    sym AS (
      SELECT user_a AS src, user_b AS nbr, d2 FROM e
      UNION ALL
      SELECT user_b AS src, user_a AS nbr, d2 FROM e
    ),
    r AS (
      SELECT src, nbr, d2,
             row_number() OVER (
               PARTITION BY src ORDER BY d2, nbr) AS rnk
      FROM sym
    )
    SELECT src AS user_id, CAST(rnk AS INTEGER) AS rnk, nbr, CAST(d2 AS BIGINT) AS d2,
           CAST(round(sqrt(CAST(d2 AS DOUBLE)), 0) AS BIGINT) AS dist_m
    FROM r WHERE rnk <= {GEO_KNN_K}
    """,
)
def q_geo_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial k-nearest neighbors (k=3) within the 50 km
    search radius: the grid-blocked candidate pairs from q_geo_gridjoin
    symmetrize into directed (src, nbr) edges and each point ranks its
    candidates by exact integer squared distance (nbr id tie-break) —
    the "nearest stores / nearest sensors" query shape. Points with
    fewer than k radius neighbors emit what exists: grid kNN is
    radius-BOUNDED by construction; the unbounded form expands the
    ring (3x3 -> 5x5 ...) until k candidates appear, same plan per
    ring.

    All ranking decisions are exact integers (d2, ids); the reported
    meters are the one correctly-rounded sqrt at presentation.

    Scale shape: inherits the gridjoin's blocking (candidates scale
    with local density), one symmetrizing union (narrow), one
    per-point rank window keyed on src — never an all-pairs scan."""
    e = geo_pairs(spark, sf_dir)
    sym = e.select(
        F.col("user_a").alias("src"), F.col("user_b").alias("nbr"), "d2"
    ).unionByName(
        e.select(
            F.col("user_b").alias("src"), F.col("user_a").alias("nbr"), "d2"
        )
    )
    w = Window.partitionBy("src").orderBy(F.asc("d2"), F.asc("nbr"))
    return (
        sym.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= GEO_KNN_K)
        .select(
            F.col("src").alias("user_id"),
            F.col("rnk").cast("int").alias("rnk"),
            "nbr",
            F.col("d2").cast("long").alias("d2"),
            F.floor(F.sqrt(F.col("d2").cast("double")) + F.lit(0.5))
            .cast("long")
            .alias("dist_m"),
        )
    )


# --- Neyman-allocation stratified sampling (round 9) ---------------------

NEYMAN_BUDGET = 100  # total sample size across strata


def _neyman_w_sql(vnum: str) -> str:
    """Quantized Neyman weight: floor(sqrt(vnum)*1000 + 0.5).

    W_h = N_h * S_h with S_h = sqrt(vnum_h)/N_h collapses to
    sqrt(vnum_h) — vnum = n*Σx² − (Σx)² is one exact BIGINT per
    stratum, CAST to DOUBLE rounds identically on both engines, and
    IEEE sqrt is CORRECTLY rounded (unlike ln), so the quantized
    weight is bit-portable."""
    return f"CAST(floor(sqrt(CAST({vnum} AS DOUBLE)) * 1000 + 0.5) AS BIGINT)"


_NEYMAN_ORACLE = f"""
    WITH s AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_h,
             CAST(sum(n_chars) AS BIGINT) AS sx,
             CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx
      FROM documents GROUP BY lang
    ),
    w AS (
      SELECT lang, n_h,
             {_neyman_w_sql("n_h * sxx - sx * sx")} AS w_milli
      FROM s
    ),
    tot AS (SELECT CAST(sum(w_milli) AS BIGINT) AS wt FROM w),
    alloc0 AS (
      SELECT w.lang, w.n_h, w.w_milli,
             CAST({NEYMAN_BUDGET} * w.w_milli // tot.wt AS BIGINT) AS base,
             CAST({NEYMAN_BUDGET} * w.w_milli % tot.wt AS BIGINT) AS rem
      FROM w, tot
    ),
    short AS (
      SELECT CAST({NEYMAN_BUDGET} - sum(base) AS BIGINT) AS r FROM alloc0
    ),
    alloc AS (
      SELECT lang, n_h, w_milli,
             CAST(base + CASE WHEN row_number() OVER (
                    ORDER BY rem DESC, lang) <= short.r
                  THEN 1 ELSE 0 END AS BIGINT) AS n_alloc
      FROM alloc0, short
    ),
    ranked AS (
      SELECT lang, doc_id,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents
    )
    SELECT a.lang, a.n_h, a.w_milli, a.n_alloc,
           CAST(count(CASE WHEN r.rk <= a.n_alloc THEN 1 END) AS BIGINT)
             AS n_kept,
           CAST(coalesce(sum(CASE WHEN r.rk <= a.n_alloc
                                  THEN r.doc_id END), 0) AS BIGINT)
             AS kept_id_sum
    FROM alloc a JOIN ranked r ON r.lang = a.lang
    GROUP BY a.lang, a.n_h, a.w_milli, a.n_alloc
"""


@query("q_sample_neyman", _NEYMAN_ORACLE)
def q_sample_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-allocation stratified sample: split a fixed budget of
    {NEYMAN_BUDGET} draws across language strata proportionally to
    N_h·S_h (stratum size x std dev of n_chars) — the allocation that
    minimizes the variance of the stratified mean (Neyman 1934), i.e.
    the statistically optimal way to spend an eval/labeling budget
    across heterogeneous corpus slices, vs q_sample_balanced's equal
    caps and q_sample_weighted's per-row priorities.

    Exactness end-to-end: N_h·S_h collapses to sqrt(N_h·Σx² − (Σx)²)
    — one exact BIGINT radicand per stratum through one CORRECTLY-
    ROUNDED IEEE sqrt (not libm-approximate like ln), quantized once
    to milli; integer floor allocation with largest-remainder
    rounding (rank by exact modulo, lang tie-break) so allocations
    sum EXACTLY to the budget; membership by the house md5 hash-rank
    rule, pinned by kept_id_sum.

    Scale shape: one (lang)-keyed moment aggregate (map-side
    combined), alphabet-sized allocation control plane (broadcast),
    one per-stratum rank window — q_sample_balanced's plan with a
    computed cap. The window's scale refinement (hash-prefix
    pre-filter before ranking) applies unchanged."""
    docs = t(spark, sf_dir, "documents")
    s = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        F.sum("n_chars").cast("long").alias("sx"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("long").alias("sxx"),
    )
    w = s.select(
        "lang",
        "n_h",
        F.expr(_neyman_w_sql("n_h * sxx - sx * sx")).alias("w_milli"),
    )
    tot = w.agg(F.sum("w_milli").cast("long").alias("wt"))
    alloc0 = w.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_h",
        "w_milli",
        F.expr(f"CAST({NEYMAN_BUDGET} * w_milli DIV wt AS BIGINT)").alias("base"),
        F.expr(f"CAST({NEYMAN_BUDGET} * w_milli % wt AS BIGINT)").alias("rem"),
    )
    short = alloc0.agg(
        (F.lit(NEYMAN_BUDGET) - F.sum("base")).cast("long").alias("r")
    )
    wrem = Window.orderBy(F.desc("rem"), F.asc("lang"))
    alloc = (
        alloc0.crossJoin(F.broadcast(short))
        .withColumn("rn", F.row_number().over(wrem))
        .select(
            "lang",
            "n_h",
            "w_milli",
            (
                F.col("base")
                + F.when(F.col("rn") <= F.col("r"), 1).otherwise(0)
            ).cast("long").alias("n_alloc"),
        )
    )
    wrk = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    ranked = docs.select("lang", "doc_id").withColumn(
        "rk", F.row_number().over(wrk)
    )
    kept = F.when(F.col("rk") <= F.col("n_alloc"), F.col("doc_id"))
    return (
        ranked.join(F.broadcast(alloc), "lang")
        .groupBy("lang", "n_h", "w_milli", "n_alloc")
        .agg(
            F.count(kept).cast("long").alias("n_kept"),
            F.coalesce(F.sum(kept), F.lit(0)).cast("long").alias("kept_id_sum"),
        )
    )


# --- DSIR importance resampling (round 10) -------------------------------

DSIR_BUCKETS = 256  # hashed n-gram feature space
DSIR_TOP = 20  # selected docs reported
DSIR_TARGET = "en"  # target-domain slice the raw pool is scored against

_DSIR_LN_SCALE = 1_000_000


def _dsir_lnq(x: str) -> str:
    """ln of a POSITIVE integer expression, snapped once to the 1e-6
    grid (the q_text_pmi recipe) so downstream arithmetic is exact."""
    return (
        f"CAST(floor(ln(CAST({x} AS DOUBLE)) * {_DSIR_LN_SCALE} + 0.5)"
        " AS BIGINT)"
    )


def _dsir_oracle() -> str:
    from jsmr_spark.queries.dedup import hex12_sql

    lam = (
        f"{_dsir_lnq('coalesce(t.ct, 0) + 1')}"
        f" - {_dsir_lnq('tot.tt + ' + str(DSIR_BUCKETS))}"
        f" - {_dsir_lnq('r.cr + 1')}"
        f" + {_dsir_lnq('tot.rt + ' + str(DSIR_BUCKETS))}"
    )
    return f"""
    WITH d AS (
      SELECT doc_id, lang, source, string_split(text, ' ') AS l
      FROM documents
    ),
    bg AS (
      SELECT doc_id, lang, source,
             ({hex12_sql("md5(pair)")}) % {DSIR_BUCKETS} AS bucket
      FROM (
        SELECT doc_id, lang, source,
               unnest(list_transform(list_slice(l, 1, len(l) - 1),
                                     (x, i) -> x || '|' || l[i + 1])) AS pair
        FROM d WHERE len(l) >= 2
      )
    ),
    db AS (
      SELECT doc_id, lang, source, bucket,
             CAST(count(*) AS BIGINT) AS n
      FROM bg GROUP BY doc_id, lang, source, bucket
    ),
    raw_b AS (SELECT bucket, CAST(sum(n) AS BIGINT) AS cr FROM db GROUP BY bucket),
    tgt_b AS (
      SELECT bucket, CAST(sum(n) AS BIGINT) AS ct
      FROM db WHERE lang = '{DSIR_TARGET}' GROUP BY bucket
    ),
    tot AS (
      SELECT CAST(sum(cr) AS BIGINT) AS rt,
             (SELECT CAST(sum(ct) AS BIGINT) FROM tgt_b) AS tt
      FROM raw_b
    ),
    lam AS (
      SELECT r.bucket, CAST({lam} AS BIGINT) AS lam_micro
      FROM raw_b r LEFT JOIN tgt_b t ON t.bucket = r.bucket
      CROSS JOIN tot
    ),
    w AS (
      SELECT db.doc_id, db.lang, db.source,
             CAST(sum(db.n) AS BIGINT) AS n_grams,
             CAST(sum(db.n * lam.lam_micro) AS BIGINT) AS weight_micro
      FROM db JOIN lam ON lam.bucket = db.bucket
      GROUP BY db.doc_id, db.lang, db.source
    )
    SELECT doc_id, lang, source, n_grams, weight_micro, rnk
    FROM (SELECT *, CAST(row_number() OVER (ORDER BY weight_micro DESC, doc_id)
                         AS INTEGER) AS rnk FROM w) x
    WHERE rnk <= {DSIR_TOP}
"""


@query("q_sample_dsir", _dsir_oracle())
def q_sample_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al., NeurIPS
    2023): score every raw-pool document by how target-like its hashed
    n-gram feature distribution is — log w(x) = sum over features of
    n_f(x) * [ln p_target(f) - ln p_raw(f)] — and keep the top-scored
    docs. THE published data-selection method for choosing pretraining
    data that matches a high-quality target domain at corpus scale.
    Features are word bigrams hashed into {DSIR_BUCKETS} buckets
    (portable md5), target = the '{DSIR_TARGET}' slice, raw = the whole
    corpus; both bucket distributions carry +1 smoothing. Output: the
    top-{DSIR_TOP} selected docs with their exact micro-nat weights.

    Determinism: bucket counts are exact integers; each of the four ln
    terms is snapped ONCE to the 1e-6 grid (the q_text_pmi recipe), so
    every per-bucket log-ratio is a per-bucket integer constant and
    doc weights are exact BIGINT sums; ranking tie-breaks on doc_id.

    Scale shape: ONE corpus tokenize (narrow zip, no self-join) -> one
    (doc, bucket) hash agg -> the bucket tables are {DSIR_BUCKETS}-row
    CONTROL PLANE (broadcast by construction — bounded, unlike a
    vocabulary) -> one broadcast join + per-doc agg -> global top-k
    (TakeOrderedAndProject). At 100 TB: two corpus scans' worth of
    shuffle-light work, exactly the paper's MapReduce shape; the
    selection threshold generalizes from top-k to a weight cutoff
    sampled via the Gumbel trick without changing the plan."""
    from jsmr_spark.queries.dedup import hex12_sql

    docs = t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    pairs = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat(a, F.lit("|"), b),
    )
    bg = (
        docs.where(n >= 2)
        .select(
            "doc_id", "lang", "source", F.explode(pairs).alias("pair")
        )
        .select(
            "doc_id",
            "lang",
            "source",
            F.expr(f"({hex12_sql('md5(pair)')}) % {DSIR_BUCKETS}").alias(
                "bucket"
            ),
        )
    )
    # cached: db feeds the raw distribution, the target distribution
    # AND the per-doc scoring join — without the cache the tokenize +
    # explode re-runs three times (the q_dedup_minhash shingle-set
    # precedent; at 100 TB this is the featurized-counts table the
    # DSIR paper materializes between its two passes)
    db = persisted(
        bg.groupBy("doc_id", "lang", "source", "bucket").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
    )
    raw_b = db.groupBy("bucket").agg(F.sum("n").cast("long").alias("cr"))
    tgt_b = (
        db.where(F.col("lang") == DSIR_TARGET)
        .groupBy("bucket")
        .agg(F.sum("n").cast("long").alias("ct_raw"))
    )
    tot = raw_b.agg(F.sum("cr").cast("long").alias("rt")).crossJoin(
        tgt_b.agg(F.sum("ct_raw").cast("long").alias("tt"))
    )
    lam_expr = (
        f"CAST({_dsir_lnq('ct + 1')}"
        f" - {_dsir_lnq('tt + ' + str(DSIR_BUCKETS))}"
        f" - {_dsir_lnq('cr + 1')}"
        f" + {_dsir_lnq('rt + ' + str(DSIR_BUCKETS))} AS BIGINT)"
    )
    lam = (
        raw_b.join(tgt_b, "bucket", "left")
        .select(
            "bucket",
            "cr",
            F.coalesce(F.col("ct_raw"), F.lit(0)).cast("long").alias("ct"),
        )
        .crossJoin(F.broadcast(tot))
        .select("bucket", F.expr(lam_expr).alias("lam_micro"))
    )
    w = (
        db.join(F.broadcast(lam), "bucket")
        .groupBy("doc_id", "lang", "source")
        .agg(
            F.sum("n").cast("long").alias("n_grams"),
            F.sum(F.col("n") * F.col("lam_micro")).cast("long").alias(
                "weight_micro"
            ),
        )
    )
    wr = Window.orderBy(F.desc("weight_micro"), F.asc("doc_id"))
    return (
        w.withColumn("rnk", F.row_number().over(wr).cast("int"))
        .where(F.col("rnk") <= DSIR_TOP)
        .select("doc_id", "lang", "source", "n_grams", "weight_micro", "rnk")
    )
