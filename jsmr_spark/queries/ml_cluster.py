"""Deterministic distributed k-means (Lloyd iterations) over the
embedding corpus — hash-exact across engines.

Floating k-means is unreproducible across engines AND across cluster
sizes (centroid means accumulate in partition order), so this
implementation keeps every Lloyd step in exact arithmetic:

  * vectors quantize to integers once (1e-4 grid, same recipe as the
    PCA/embed-stats keys);
  * a centroid is stored as (count n, per-dim integer sum S), never as
    a floating mean;
  * the assignment argmin compares dist_j = sum_d (n_j*x_d - S_d)^2
    / n_j^2 — the numerator is an exact BIGINT (max ~8.6e15 at the
    fixture range), the single division is the same IEEE op on both
    engines, and ties break on cluster id.

Initialization is the k lowest vec_ids (deterministic, no seeded
sampling), and the operator runs a FIXED two Lloyd iterations — the
point is the distributed iteration shape, not convergence; production
would loop the same plan until movement stops.

The relational form is long format ((vec_id, dim, x) x (cid, dim, S,
n) equi-join on dim, keyed integer sums) — exactly what survives at
scale: partial aggregates shuffle one row per (point, cluster), and
the centroid table (k x dims rows) broadcasts.

Scaling note: the BIGINT headroom bound is n_max^2 * xq_max^2 * dims
< 2^63; at the 1e-4 quantization and these 64-dim unit-ish vectors
that holds to ~20k points per cluster — past that, drop the
quantization to 1e-3 (the bound scales with the square of the grid).
Since round 6 the bound is ENFORCED in-plan (_checked_dist_term):
exceeding it raises instead of wrapping silently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jsmr_spark.compat import r4
from jsmr_spark.queries.common import constants, t
from jsmr_spark.registry import query

KM_K = 4
KM_DIMS = 64
KM_QSCALE = 10_000

# BIGINT headroom guard (ADVICE r4): the exact distance sums
# dims * (n*x - s)^2, so each per-dim term must stay within
# sqrt(2^63 / dims) or the 64-bit sum wraps silently on Spark
# (non-ANSI) while DuckDB raises — surfacing as unexplained
# cross-engine divergence instead of a clean error. |n*x - s| <=
# 2*n*|x|max, so at the 1e-4 grid this fires around ~19k points per
# cluster — the documented bound, now enforced in-plan.
_KM_TERM_BOUND = int((2**63 // KM_DIMS) ** 0.5)


def _checked_dist_term() -> "F.Column":
    """(n*x - s) with a distributed overflow guard: raises loudly the
    moment any per-dim term would overflow the dims-wide BIGINT sum
    (the fix: requantize to a coarser grid — the bound scales with the
    square of the grid). Pure column expression — no extra job, stays
    inside whole-stage codegen."""
    term = F.col("n") * F.col("x") - F.col("s")
    return F.when(
        F.abs(term) > F.lit(_KM_TERM_BOUND),
        F.expr(
            "CAST(raise_error('exact k-means BIGINT headroom exceeded: "
            "cluster too large for the 1e-4 grid; requantize coarser "
            "(bound scales with grid^2)') AS BIGINT)"
        ),
    ).otherwise(term)


def _points_sql() -> str:
    return f"""
      SELECT vec_id, CAST(r.i AS INTEGER) AS dim,
             CAST(round(CAST(embedding[r.i] AS DOUBLE) * {KM_QSCALE}, 0) AS BIGINT) AS x
      FROM embeddings CROSS JOIN range(1, {KM_DIMS + 1}) r(i)
    """


def _assign_sql(cents: str) -> str:
    """SQL for one Lloyd assignment: argmin over exact scaled distances."""
    return f"""
      SELECT vec_id, cid FROM (
        SELECT p.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY p.vec_id
                 ORDER BY CAST(sum((c.n * p.x - c.s) * (c.n * p.x - c.s)) AS DOUBLE)
                          / CAST(c.n * c.n AS DOUBLE), c.cid
               ) AS rk
        FROM pts p JOIN {cents} c ON c.dim = p.dim
        GROUP BY p.vec_id, c.cid, c.n
      ) WHERE rk = 1
    """


@query(
    "q_kmeans_lloyd",
    f"""
    WITH pts AS ({_points_sql()}),
    init AS (
      SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cid
      FROM (SELECT DISTINCT vec_id FROM pts ORDER BY vec_id LIMIT {KM_K})
    ),
    cent0 AS (
      SELECT i.cid, p.dim, p.x AS s, CAST(1 AS BIGINT) AS n
      FROM init i JOIN pts p ON p.vec_id = i.vec_id
    ),
    assign1 AS ({_assign_sql("cent0")}),
    cent1 AS (
      SELECT a.cid, p.dim, sum(p.x) AS s, count(*) AS n
      FROM assign1 a JOIN pts p ON p.vec_id = a.vec_id
      GROUP BY a.cid, p.dim
    ),
    assign2 AS ({_assign_sql("cent1")}),
    cent2 AS (
      SELECT a.cid, p.dim, sum(p.x) AS s, count(*) AS n
      FROM assign2 a JOIN pts p ON p.vec_id = a.vec_id
      GROUP BY a.cid, p.dim
    )
    SELECT CAST(cid AS INTEGER) AS cid, dim, n AS n_points,
           round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / {KM_QSCALE}.0, 4) AS mean_val
    FROM cent2
    """,
)
def q_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two deterministic Lloyd iterations of k-means (k=4) over the
    embeddings; output is the final centroid table in long format
    (cid, dim, cluster size, per-dim mean).

    See the module docstring for the exactness argument; the oracle
    replays the identical integer algebra in recursive CTE form, so a
    single flipped assignment anywhere in either iteration fails the
    hash."""
    pts = (
        t(spark, sf_dir, "embeddings")
        .select("vec_id", F.posexplode("embedding").alias("pos", "v"))
        .select(
            "vec_id",
            (F.col("pos") + 1).cast("int").alias("dim"),
            # half-away-from-zero in primitive doubles (compat.py
            # recipe); x*1e4 CAN tie at .5 on dyadic float32 values and
            # both engines round those away from zero.
            (
                F.floor(F.abs(F.col("v").cast("double") * KM_QSCALE) + F.lit(0.5))
                * F.signum(F.col("v").cast("double"))
            )
            .cast("long")
            .alias("x"),
        )
    )

    init = (
        pts.select("vec_id")
        .distinct()
        .orderBy("vec_id")
        .limit(KM_K)
        .select(
            "vec_id",
            (F.row_number().over(Window.orderBy("vec_id")) - 1).alias("cid"),
        )
    )
    cent = init.join(pts, "vec_id").select(
        "cid", "dim", F.col("x").alias("s"), F.lit(1).cast("long").alias("n")
    )

    def lloyd_assign(cent: DataFrame) -> DataFrame:
        term = _checked_dist_term()
        d2 = F.sum(term * term)
        dist = d2.cast("double") / (F.col("n") * F.col("n")).cast("double")
        scored = (
            pts.join(F.broadcast(cent), "dim")
            .groupBy("vec_id", "cid", "n")
            .agg(dist.alias("dist"))
        )
        rk = F.row_number().over(
            Window.partitionBy("vec_id").orderBy("dist", "cid")
        )
        return scored.withColumn("rk", rk).where(F.col("rk") == 1).select(
            "vec_id", "cid"
        )

    def recompute(assign: DataFrame) -> DataFrame:
        return (
            assign.join(pts, "vec_id")
            .groupBy("cid", "dim")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
        )

    for _ in range(2):
        cent = recompute(lloyd_assign(cent))

    return cent.select(
        F.col("cid").cast("int").alias("cid"),
        "dim",
        F.col("n").alias("n_points"),
        r4(
            F.col("s").cast("double") / F.col("n").cast("double") / F.lit(float(KM_QSCALE))
        ).alias("mean_val"),
    )


# --- end-to-end vector-corpus pipeline --------------------------------

VP_STAT_SCALE = 100  # coarse grid for the outlier statistic (see note)


def _vp_oracle() -> str:
    """CTE chain replaying the whole vector pipeline.

    Two quantization grids on purpose: the OUTLIER statistic uses a
    coarse 1e-2 grid so its sum-of-squares-of-squares stays in BIGINT
    (fine-grid n2^2 would overflow at corpus scale), while the
    CLUSTER distances reuse the fine 1e-4 grid of q_kmeans_lloyd.
    Both sides derive the mean +/- 2 sigma fence through the identical
    double expression tree from exact integer moments."""
    return f"""
    WITH pts AS ({_points_sql()}),
    coarse AS (
      SELECT vec_id,
             sum(CAST(round(CAST(embedding[r.i] AS DOUBLE) * {VP_STAT_SCALE}, 0) AS BIGINT)
                 * CAST(round(CAST(embedding[r.i] AS DOUBLE) * {VP_STAT_SCALE}, 0) AS BIGINT))
               AS n2
      FROM embeddings CROSS JOIN range(1, {KM_DIMS + 1}) r(i)
      GROUP BY vec_id
    ),
    fence AS (
      SELECT count(*) AS n, sum(n2) AS s1, sum(n2 * n2) AS s2 FROM coarse
    ),
    kept AS (
      SELECT c.vec_id, c.n2
      FROM coarse c CROSS JOIN fence f
      WHERE CAST(c.n2 AS DOUBLE)
              >= CAST(f.s1 AS DOUBLE) / CAST(f.n AS DOUBLE)
                 - 2.0 * sqrt(CAST(f.s2 AS DOUBLE) / CAST(f.n AS DOUBLE)
                              - (CAST(f.s1 AS DOUBLE) / CAST(f.n AS DOUBLE))
                                * (CAST(f.s1 AS DOUBLE) / CAST(f.n AS DOUBLE)))
        AND CAST(c.n2 AS DOUBLE)
              <= CAST(f.s1 AS DOUBLE) / CAST(f.n AS DOUBLE)
                 + 2.0 * sqrt(CAST(f.s2 AS DOUBLE) / CAST(f.n AS DOUBLE)
                              - (CAST(f.s1 AS DOUBLE) / CAST(f.n AS DOUBLE))
                                * (CAST(f.s1 AS DOUBLE) / CAST(f.n AS DOUBLE)))
    ),
    kpts AS (
      SELECT p.* FROM pts p JOIN kept k ON k.vec_id = p.vec_id
    ),
    init AS (
      SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cid
      FROM (SELECT DISTINCT vec_id FROM kpts ORDER BY vec_id LIMIT {KM_K})
    ),
    cent0 AS (
      SELECT i.cid, p.dim, p.x AS s, CAST(1 AS BIGINT) AS n
      FROM init i JOIN kpts p ON p.vec_id = i.vec_id
    ),
    assign1 AS (
      SELECT vec_id, cid FROM (
        SELECT p.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY p.vec_id
                 ORDER BY CAST(sum((c.n * p.x - c.s) * (c.n * p.x - c.s)) AS DOUBLE)
                          / CAST(c.n * c.n AS DOUBLE), c.cid
               ) AS rk
        FROM kpts p JOIN cent0 c ON c.dim = p.dim
        GROUP BY p.vec_id, c.cid, c.n
      ) WHERE rk = 1
    )
    SELECT CAST(a.cid AS INTEGER) AS cid, e.label,
           count(*) AS n_vecs,
           CAST(sum(k.n2) AS BIGINT) AS sum_n2,
           round(CAST(sum(k.n2) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                 / {VP_STAT_SCALE * VP_STAT_SCALE}.0, 4) AS mean_sq_norm
    FROM assign1 a
    JOIN embeddings e ON e.vec_id = a.vec_id
    JOIN kept k ON k.vec_id = a.vec_id
    GROUP BY a.cid, e.label
    """


@query("q_pipeline_vectors", _vp_oracle())
def q_pipeline_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE vector-corpus maintenance pipeline as one lazy DAG —
    the embedding-side twin of q_pipeline_end2end's text chain:

      quantize -> corpus norm statistics -> mean+/-2sigma outlier trim
      -> deterministic centroid init over the SURVIVORS -> one exact
      Lloyd assignment -> per (cluster, label) accounting.

    Stage interactions are what this key checks (the fence derives
    from moments of the pre-trim corpus; the init picks the lowest
    surviving ids, so a wrongly-trimmed vector shifts every cluster),
    against a single CTE-chain oracle. All arithmetic follows the
    integer-first recipe; the outlier statistic runs on a coarser
    integer grid than the distances so both stay in BIGINT (see
    _vp_oracle docstring).

    Shape at 100 TB: narrow quantize map, one 1-row moment aggregate
    broadcast back as a filter, the k x dims centroid broadcast, one
    keyed argmin aggregate, one final group-by. No driver state, no
    all-pairs anything."""
    emb = t(spark, sf_dir, "embeddings")
    pts = (
        emb.select("vec_id", F.posexplode("embedding").alias("pos", "v"))
        .select(
            "vec_id",
            (F.col("pos") + 1).cast("int").alias("dim"),
            (
                F.floor(F.abs(F.col("v").cast("double") * KM_QSCALE) + F.lit(0.5))
                * F.signum(F.col("v").cast("double"))
            )
            .cast("long")
            .alias("x"),
            (
                F.floor(F.abs(F.col("v").cast("double") * VP_STAT_SCALE) + F.lit(0.5))
                * F.signum(F.col("v").cast("double"))
            )
            .cast("long")
            .alias("xc"),
        )
    )
    coarse = pts.groupBy("vec_id").agg(F.sum(F.col("xc") * F.col("xc")).alias("n2"))
    fence = coarse.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n2").alias("s1"),
        F.sum(F.col("n2") * F.col("n2")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n").cast("double")
    sd = F.sqrt(
        F.col("s2").cast("double") / F.col("n").cast("double") - mean * mean
    )
    kept = (
        coarse.crossJoin(F.broadcast(fence))
        .where(
            (F.col("n2").cast("double") >= mean - F.lit(2.0) * sd)
            & (F.col("n2").cast("double") <= mean + F.lit(2.0) * sd)
        )
        .select("vec_id", "n2")
    )
    kpts = pts.join(kept.select("vec_id"), "vec_id")

    init = (
        kpts.select("vec_id")
        .distinct()
        .orderBy("vec_id")
        .limit(KM_K)
        .select(
            "vec_id",
            (F.row_number().over(Window.orderBy("vec_id")) - 1).alias("cid"),
        )
    )
    cent0 = init.join(kpts, "vec_id").select(
        "cid", "dim", F.col("x").alias("s"), F.lit(1).cast("long").alias("n")
    )
    term = _checked_dist_term()
    d2 = F.sum(term * term)
    dist = d2.cast("double") / (F.col("n") * F.col("n")).cast("double")
    scored = (
        kpts.join(F.broadcast(cent0), "dim")
        .groupBy("vec_id", "cid", "n")
        .agg(dist.alias("dist"))
    )
    rk = F.row_number().over(Window.partitionBy("vec_id").orderBy("dist", "cid"))
    assign = (
        scored.withColumn("rk", rk).where(F.col("rk") == 1).select("vec_id", "cid")
    )
    return (
        assign.join(emb.select("vec_id", "label"), "vec_id")
        .join(kept, "vec_id")
        .groupBy(F.col("cid").cast("int").alias("cid"), "label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("n2").alias("sum_n2"),
            r4(
                F.sum("n2").cast("double")
                / F.count(F.lit(1)).cast("double")
                / F.lit(float(VP_STAT_SCALE * VP_STAT_SCALE))
            ).alias("mean_sq_norm"),
        )
    )


def _sql_micro(num: str, den: str) -> str:
    """Exact half-away-from-zero rounding of num/den to integer
    micro-units, in pure integer (HUGEINT) arithmetic — only positive
    quantities are ever divided, so DuckDB's truncating `//` and
    Python's flooring `//` agree."""
    return f"""
    CASE WHEN (({num}) >= 0) = (({den}) >= 0)
         THEN (2 * abs({num}) * 1000000 + abs({den})) // (2 * abs({den}))
         ELSE -((2 * abs({num}) * 1000000 + abs({den})) // (2 * abs({den})))
    END"""


def _py_micro(num: int, den: int) -> int:
    """Python twin of :func:`_sql_micro` (arbitrary-precision ints)."""
    s = 1 if (num >= 0) == (den >= 0) else -1
    n_, d_ = abs(num) * 1_000_000, abs(den)
    return s * ((2 * n_ + d_) // (2 * d_))


_OLS_MINOR = "(s11*s22 - s12*s12)"

_OLS_ORACLE = f"""
WITH x AS (
  SELECT CAST(round(l_quantity, 0) AS BIGINT) AS x1,
         CAST(round(l_discount*100, 0) AS BIGINT) AS x2,
         CAST(round(l_extendedprice*100, 0) AS BIGINT) AS y
  FROM lineitem
),
s AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
         sum(x1) AS s1, sum(x2) AS s2, sum(y) AS sy,
         sum(x1*x1) AS s11, sum(x1*x2) AS s12, sum(x2*x2) AS s22,
         sum(x1*y) AS s1y, sum(x2*y) AS s2y
  FROM x
),
d AS (
  SELECT n,
         n*{_OLS_MINOR} - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2) AS det,
         sy*{_OLS_MINOR} - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y) AS det0,
         n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2) AS det1,
         n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2) AS det2
  FROM s
)
SELECT CAST(n AS BIGINT) AS n_rows,
       CAST({_sql_micro("det0", "det")} AS BIGINT) AS beta0_micro,
       CAST({_sql_micro("det1", "det")} AS BIGINT) AS beta1_micro,
       CAST({_sql_micro("det2", "det")} AS BIGINT) AS beta2_micro
FROM d
"""


@query("q_ml_linreg", _OLS_ORACLE)
def q_ml_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-feature linear regression (OLS by normal equations):
    fit extendedprice_cents ~ quantity + discount_pct over the full
    fact table and emit the coefficients in exact integer micro-cents.

    This is the distributed-linear-algebra shape (same family as the
    PCA Gram reduce in queries/similarity.py): ONE partial-aggregated
    pass computes the 9 Gram/moment sums — map-side combine collapses
    every partition to a single row, so the exchange moves 9 scalars
    regardless of input size — and the 3x3 solve is a control-plane
    Cramer elimination in arbitrary-precision Python ints. No float
    ever enters: the Gram sums are exact BIGINTs (headroom to ~sf1000:
    max per-row product qty*price_cents ~ 5.5e8, 6e9 rows -> 3.3e18 <
    2^63), the determinants are exact big ints, and the final
    micro-unit rounding is the integer half-away-from-zero rule —
    bit-identical to the oracle's HUGEINT Cramer by construction, not
    by tolerance. Contrast sklearn-style float solvers, which drift
    with partition order and would need tolerance flags.

    The single-feature twin is q_agg_regr (regr_slope per group); this
    key is the multi-feature generalization every pricing/quality
    model actually needs."""
    x1 = F.col("l_quantity").cast("long")
    x2 = (F.col("l_discount") * 100.0 + F.lit(0.5)).cast("long")
    y = (F.col("l_extendedprice") * 100.0 + F.lit(0.5)).cast("long")
    row = (
        t(spark, sf_dir, "lineitem")
        .select(x1.alias("x1"), x2.alias("x2"), y.alias("y"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x1").alias("s1"),
            F.sum("x2").alias("s2"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x1") * F.col("x1")).alias("s11"),
            F.sum(F.col("x1") * F.col("x2")).alias("s12"),
            F.sum(F.col("x2") * F.col("x2")).alias("s22"),
            F.sum(F.col("x1") * F.col("y")).alias("s1y"),
            F.sum(F.col("x2") * F.col("y")).alias("s2y"),
        )
        .collect()[0]  # control-plane: 9 scalars, size-independent
    )
    n, s1, s2, sy = int(row.n), int(row.s1), int(row.s2), int(row.sy)
    s11, s12, s22 = int(row.s11), int(row.s12), int(row.s22)
    s1y, s2y = int(row.s1y), int(row.s2y)
    minor = s11 * s22 - s12 * s12
    det = n * minor - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2)
    det0 = sy * minor - s1 * (s1y * s22 - s12 * s2y) + s2 * (s1y * s12 - s11 * s2y)
    det1 = n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) + s2 * (s1 * s2y - s1y * s2)
    det2 = n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) + sy * (s1 * s12 - s11 * s2)
    if det == 0:  # collinear features: not reachable on the fixtures
        raise ValueError("q_ml_linreg: singular normal equations")
    return spark.createDataFrame(
        [
            (
                n,
                _py_micro(det0, det),
                _py_micro(det1, det),
                _py_micro(det2, det),
            )
        ],
        "n_rows long, beta0_micro long, beta1_micro long, beta2_micro long",
    )


# --- multinomial naive Bayes language classifier (round 7) -------------

NB_SCALE = 1_000_000  # fixed-point grid for log-probabilities (micro-nats)

# Quantize one libm ln to the 1e-6 grid (the perplexity recipe): libm
# is <=1ulp but NOT correctly rounded, so each distinct log value is
# snapped ONCE and all downstream arithmetic is exact integers.
_NB_QLN = (
    "CAST(floor(abs(ln({x})) * 1000000 + 0.5) AS BIGINT)"
    " * (CASE WHEN ln({x}) < 0 THEN -1 ELSE 1 END)"
)


def _nb_oracle() -> str:
    lp = _NB_QLN.format(
        x="(CAST(c + 1 AS DOUBLE) / CAST(tot + v AS DOUBLE))"
    )
    prior = _NB_QLN.format(x="(CAST(nd AS DOUBLE) / CAST(n AS DOUBLE))")
    return f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    tf AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, token
    ),
    cls AS (SELECT lang, CAST(count(*) AS BIGINT) AS nd FROM documents GROUP BY lang),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    vocab AS (SELECT DISTINCT token FROM tok),
    v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
    cnt AS (
      SELECT lang, token, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY lang, token
    ),
    tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS tot FROM cnt GROUP BY lang),
    model AS (
      SELECT cls.lang, vocab.token,
             coalesce(cnt.c, 0) AS c, tot.tot, v.v,
             {lp} AS lp_micro
      FROM cls CROSS JOIN vocab CROSS JOIN v
      JOIN tot ON tot.lang = cls.lang
      LEFT JOIN cnt ON cnt.lang = cls.lang AND cnt.token = vocab.token
    ),
    priors AS (
      SELECT cls.lang, {prior} AS prior_micro FROM cls CROSS JOIN n
    ),
    scored AS (
      SELECT tf.doc_id, m.lang,
             p.prior_micro + CAST(sum(tf.tf * m.lp_micro) AS BIGINT)
               AS score_micro
      FROM tf
      JOIN model m ON m.token = tf.token
      JOIN priors p ON p.lang = m.lang
      GROUP BY tf.doc_id, m.lang, p.prior_micro
    ),
    best AS (
      SELECT doc_id, lang AS pred_lang, score_micro
      FROM (
        SELECT scored.*, row_number() OVER (
          PARTITION BY doc_id ORDER BY score_micro DESC, lang) AS rk
        FROM scored
      ) WHERE rk = 1
    )
    SELECT b.doc_id, d.lang AS true_lang, b.pred_lang, b.score_micro,
           d.lang = b.pred_lang AS correct
    FROM best b JOIN documents d ON d.doc_id = b.doc_id
    """


@query("q_ml_naive_bayes", _nb_oracle())
def q_ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive Bayes trained and scored in ONE lazy DAG:
    class = language, features = token counts, add-one smoothing —
    the classical quality/language classifier shape a curation
    pipeline trains on its own corpus (fastText-style filters are this
    plus better features). Output: per-document argmax class with its
    score and a correctness flag against the labeled lang.

    Exactness: every log-probability ln((c+1)/(tot+V)) and each class
    prior ln(nd/N) is snapped ONCE to the 1e-6 integer grid (the
    perplexity recipe — libm is <=1ulp, not correctly rounded, so only
    the single snapped value crosses engines); scores are then exact
    BIGINT dot products (tf * lp_micro sums, |score| < 2^40), and the
    argmax breaks ties on the lang string — fully deterministic.

    Scale shape: the model is (langs x vocab) — a keyed aggregate that
    collapses the corpus map-side, NEVER per-document state; scoring
    is one join of per-doc term frequencies against the model on the
    token key (broadcast here; a plain keyed join at 100 TB vocab) +
    one doc-keyed aggregate, then a per-doc argmax window over
    langs-many rows. Training and inference are the same two
    exchanges any wordcount pays."""
    return naive_bayes_frame(spark, sf_dir)


def naive_bayes_frame(
    spark: SparkSession, sf_dir: str, strip_token_tag: str | None = None
) -> DataFrame:
    """q_ml_naive_bayes body, parameterized for the scale probe's
    vocabulary-held CONTROL (VERDICT r8 #4): the 10x staging perturbs
    every 5th token with an 'r<k>x' prefix (needed so dedup keys don't
    measure their own clone-grown output), which inflates the VOCAB
    ~2.8x and with it the (langs x vocab) model build. Passing
    ``strip_token_tag`` removes that prefix before tokenizing, holding
    the vocabulary at its base size so the control row isolates the
    per-token cost from the staging artifact."""
    docs = t(spark, sf_dir, "documents")
    if strip_token_tag is not None:
        docs = docs.withColumn(
            "text", F.regexp_replace("text", strip_token_tag, "")
        )
    tok = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("token")
    )
    tf = tok.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    cls = docs.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("nd"))
    n = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    vocab = tok.select("token").distinct()
    v = vocab.agg(F.count(F.lit(1)).cast("long").alias("v"))
    cnt = tok.groupBy("lang", "token").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = cnt.groupBy("lang").agg(F.sum("c").cast("long").alias("tot"))
    model = (
        cls.crossJoin(vocab)
        .crossJoin(F.broadcast(v))
        .join(tot, "lang")
        .join(cnt, ["lang", "token"], "left")
        .select(
            "lang",
            "token",
            F.expr(
                _NB_QLN.format(
                    x="(CAST(coalesce(c, 0) + 1 AS DOUBLE)"
                    " / CAST(tot + v AS DOUBLE))"
                )
            ).alias("lp_micro"),
        )
    )
    priors = cls.crossJoin(F.broadcast(n)).select(
        "lang",
        F.expr(
            _NB_QLN.format(x="(CAST(nd AS DOUBLE) / CAST(n AS DOUBLE))")
        ).alias("prior_micro"),
    )
    scored = (
        tf.join(F.broadcast(model), "token")
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.col("tf") * F.col("lp_micro")).cast("long").alias("s"))
        .join(F.broadcast(priors), "lang")
        .select(
            "doc_id",
            "lang",
            (F.col("prior_micro") + F.col("s")).alias("score_micro"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_micro"), F.asc("lang")
    )
    best = (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("doc_id", F.col("lang").alias("pred_lang"), "score_micro")
    )
    return best.join(docs.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        F.col("lang").alias("true_lang"),
        "pred_lang",
        "score_micro",
        (F.col("lang") == F.col("pred_lang")).alias("correct"),
    )


MI_LN_SCALE = 1_000_000  # 1e-6 ln grid (q_text_entropy's recipe)
MI_LEN_BUCKET = 200  # n_chars bucket width for the feature variable


def _mi_lnq(x: str) -> str:
    return f"CAST(floor(ln(CAST({x} AS DOUBLE)) * {MI_LN_SCALE} + 0.5) AS BIGINT)"


def _mi_oracle() -> str:
    # Σ c_xy · (ln c_xy + ln N − ln c_x − ln c_y), then // N -> micro-nats.
    term = (
        f"c.n * ({_mi_lnq('c.n')} + {_mi_lnq('tot.n')}"
        f" - {_mi_lnq('rx.n')} - {_mi_lnq('ry.n')})"
    )
    return f"""
    WITH b AS (
      SELECT lang, CAST(n_chars // {MI_LEN_BUCKET} AS INTEGER) AS len_bucket
      FROM documents
    ),
    c AS (SELECT lang, len_bucket, CAST(count(*) AS BIGINT) AS n
          FROM b GROUP BY 1, 2),
    rx AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n FROM c GROUP BY lang),
    ry AS (SELECT len_bucket, CAST(sum(n) AS BIGINT) AS n FROM c GROUP BY len_bucket),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS n FROM c)
    SELECT CAST((SELECT count(*) FROM rx) AS BIGINT) AS n_langs,
           CAST((SELECT count(*) FROM ry) AS BIGINT) AS n_buckets,
           tot.n AS n_docs,
           CAST((sum({term}) + 4 * tot.n) // tot.n - 4 AS BIGINT) AS mi_micro
    FROM c
    JOIN rx ON rx.lang = c.lang
    JOIN ry ON ry.len_bucket = c.len_bucket
    CROSS JOIN tot
    GROUP BY tot.n
    """


@query("q_ml_mutual_info", _mi_oracle())
def q_ml_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between document language and length bucket
    ({MI_LEN_BUCKET}-char bins) in exact micro-nats — the feature-
    selection primitive (how much does a cheap feature tell you about
    the label?) that sits upstream of q_ml_naive_bayes: rank candidate
    features by MI, keep the informative ones. Same algebra as
    q_agg_theil: MI = Σ c_xy·(ln c_xy + ln N − ln c_x − ln c_y) / N,
    every ln snapped once to the 1e-6 grid per DISTINCT count, so the
    whole statistic is BIGINT arithmetic with one floor division. The
    quantized numerator can dip slightly negative when true MI ≈ 0
    (each term carries ±0.5e-6 snapping error per ln, ≤ 2·N micro in
    total), so the division uses the q_ts_wow_growth floor identity —
    (x + 4·N) div N − 4 — keeping the divided operand provably
    non-negative on any engine's negative-division convention.

    Scale shape: one (label, bucket) hash agg over the corpus, two
    marginal rollups of the contingency table, one bounded join —
    contingency-table-sized work past the first aggregate. Overflow:
    c_xy·(4 ln terms) ≤ N·~6e7 ~ 4e14 at the 10x probe."""
    b = t(spark, sf_dir, "documents").select(
        "lang",
        F.expr(f"CAST(n_chars DIV {MI_LEN_BUCKET} AS INT)").alias("len_bucket"),
    )
    c = b.groupBy("lang", "len_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    # r12 (guide §2.4, the q_mix_kl_divergence recipe): the marginals,
    # total, and cardinalities all referenced c separately, so the
    # corpus scan + contingency aggregate was derived ~6x. c is
    # bounded (langs x len-buckets), so read every rollup off c itself
    # with chained windows — identical nx/ny/nt/cardinality values,
    # one corpus scan.
    wg = Window.partitionBy()
    g = (
        c.withColumn("nx", F.sum("n").over(Window.partitionBy("lang")))
        .withColumn("ny", F.sum("n").over(Window.partitionBy("len_bucket")))
        .withColumn("nt", F.sum("n").over(wg))
        .withColumn("n_langs", F.size(F.collect_set("lang").over(wg)).cast("long"))
        .withColumn(
            "n_buckets", F.size(F.collect_set("len_bucket").over(wg)).cast("long")
        )
    )
    term = (
        f"n * ({_mi_lnq('n')} + {_mi_lnq('nt')}"
        f" - {_mi_lnq('nx')} - {_mi_lnq('ny')})"
    )
    return (
        g.groupBy("n_langs", "n_buckets", "nt")
        .agg(
            F.expr(
                f"CAST((sum({term}) + 4 * nt) DIV nt - 4 AS BIGINT)"
            ).alias("mi_micro")
        )
        .select(
            "n_langs",
            "n_buckets",
            F.col("nt").alias("n_docs"),
            "mi_micro",
        )
    )


LC_Q = 1_000  # 1e3 embedding quantization (q_embed_drift's bound argument)
LC_FRACS = (9, 36, 90)  # train buckets < f of 0..89; test = buckets 90..99


def _lc_oracle() -> str:
    from jsmr_spark.queries.dedup import hex12_sql

    bucket = f"({hex12_sql('md5(CAST(vec_id AS VARCHAR))')} % 100)"
    fr = ", ".join(str(f) for f in LC_FRACS)
    return f"""
    WITH v AS (
      SELECT vec_id, label, {bucket} AS bucket, embedding FROM embeddings
    ),
    q AS MATERIALIZED (
      SELECT vec_id, label, bucket, u.i - 1 AS dim,
             CAST(floor(abs(CAST(embedding[u.i] AS DOUBLE) * {LC_Q}.0) + 0.5)
                  * sign(CAST(embedding[u.i] AS DOUBLE) * {LC_Q}.0) AS BIGINT) AS xq
      FROM v, UNNEST(range(1, len(embedding) + 1)) AS u(i)
    ),
    fr AS (SELECT unnest([{fr}]) AS f),
    s AS MATERIALIZED (
      SELECT fr.f, q.label, q.dim, CAST(sum(q.xq) AS BIGINT) AS sx
      FROM q JOIN fr ON q.bucket < fr.f
      GROUP BY 1, 2, 3
    ),
    nl AS MATERIALIZED (
      SELECT fr.f, v.label, CAST(count(*) AS BIGINT) AS n
      FROM v JOIN fr ON v.bucket < fr.f
      GROUP BY 1, 2
    ),
    ss AS (SELECT f, label, CAST(sum(sx * sx) AS BIGINT) AS ss2
           FROM s GROUP BY f, label),
    test AS MATERIALIZED (
      SELECT vec_id, label AS true_label FROM v WHERE bucket >= 90
    ),
    xx AS MATERIALIZED (
      SELECT q.vec_id, CAST(sum(q.xq * q.xq) AS BIGINT) AS x2
      FROM q JOIN test ON test.vec_id = q.vec_id
      GROUP BY q.vec_id
    ),
    dots AS MATERIALIZED (
      SELECT q.vec_id, s.f, s.label, CAST(sum(q.xq * s.sx) AS BIGINT) AS dt
      FROM q
      JOIN test ON test.vec_id = q.vec_id
      JOIN s ON s.dim = q.dim
      GROUP BY 1, 2, 3
    ),
    scored AS (
      SELECT d.vec_id, d.f, d.label,
             (nl.n * nl.n * xx.x2 - 2 * nl.n * d.dt + ss.ss2)
               // (nl.n * nl.n) AS d2q
      FROM dots d
      JOIN nl ON nl.f = d.f AND nl.label = d.label
      JOIN ss ON ss.f = d.f AND ss.label = d.label
      JOIN xx ON xx.vec_id = d.vec_id
    ),
    pred AS (
      SELECT vec_id, f, label FROM (
        SELECT vec_id, f, label,
               row_number() OVER (PARTITION BY vec_id, f
                                  ORDER BY d2q, label) AS rn
        FROM scored
      ) WHERE rn = 1
    )
    SELECT p.f AS train_buckets,
           (SELECT CAST(sum(n) AS BIGINT) FROM nl WHERE nl.f = p.f) AS n_train,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(count(*) FILTER (WHERE p.label = t.true_label) AS BIGINT)
             AS n_correct,
           CAST(count(*) FILTER (WHERE p.label = t.true_label) * 1000000
                // count(*) AS BIGINT) AS accuracy_ppm
    FROM pred p JOIN test t ON t.vec_id = p.vec_id
    GROUP BY p.f
    """


@query("q_ml_learning_curve", _lc_oracle())
def q_ml_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learning curve for a nearest-centroid classifier on the
    embeddings: train on nested portable-hash subsets (10% / 40% /
    100% of the train pool — buckets < {LC_FRACS} of 0..89), score the
    SAME held-out 10% (buckets 90+), and report accuracy per training
    size — the data-scaling readout ("is more data still buying
    accuracy?") that motivates every corpus-growth decision upstream.

    Exactness: distances compare as ||n·x − S||²/n² in one floor
    division (centroids are rationals S/n with per-label n, so the
    un-normalized forms are NOT comparable across labels — the n²
    denominator restores comparability on an integer grid), argmin
    tie-broken by label; all sums are exact 1e3-quantized BIGINTs
    (q_embed_drift's overflow argument: nl²·Σx² ~ 4e15 at the 10x
    probe).

    Scale shape: ONE pass builds all three fraction centroids
    (fraction table is a broadcast fan-out over nested bucket
    predicates); scoring joins test dims against the labels × dims ×
    fractions centroid table — bounded, centroid-table-sized. No
    per-fraction rescan of the corpus."""
    from jsmr_spark.queries.dedup import hex12_sql

    bucket = f"CAST({hex12_sql('md5(CAST(vec_id AS STRING))')} % 100 AS INT)"
    v = t(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.expr(bucket).alias("bucket"), "embedding"
    )
    q = v.select(
        "vec_id",
        "label",
        "bucket",
        F.posexplode("embedding").alias("dim", "x"),
    ).select(
        "vec_id",
        "label",
        "bucket",
        "dim",
        F.expr(
            f"CAST(floor(abs(CAST(x AS DOUBLE) * {LC_Q}.0) + 0.5)"
            f" * sign(CAST(x AS DOUBLE) * {LC_Q}.0) AS BIGINT)"
        ).alias("xq"),
    )
    fr = constants(spark, "f int", [(f,) for f in LC_FRACS])
    s = (
        q.crossJoin(fr)
        .where(F.col("bucket") < F.col("f"))
        .groupBy("f", "label", "dim")
        .agg(
            F.sum("xq").cast("long").alias("sx"),
            F.count(F.lit(1)).cast("long").alias("cnt"),
        )
    )
    # r12 (guide §2.4): the per-(f,label) training count used to come
    # from a SECOND corpus pass (v x fractions -> agg). Every vector
    # contributes exactly one row per dim, so the count is already in
    # s — read it at dim 0. The extra s reference reuses s's exchange
    # (identical subtree), so no new corpus work.
    nl = s.where(F.col("dim") == 0).select(
        "f", "label", F.col("cnt").alias("n")
    )
    ss = s.groupBy("f", "label").agg(
        F.sum(F.col("sx") * F.col("sx")).cast("long").alias("ss2")
    )
    test = v.where(F.col("bucket") >= 90).select(
        "vec_id", F.col("label").alias("true_label")
    )
    qt = q.join(test.select("vec_id"), "vec_id")
    xx = qt.groupBy("vec_id").agg(
        F.sum(F.col("xq") * F.col("xq")).cast("long").alias("x2")
    )
    dots = (
        qt.join(s.withColumnRenamed("label", "clabel"), "dim")
        .groupBy("vec_id", "f", "clabel")
        .agg(F.sum(F.col("xq") * F.col("sx")).cast("long").alias("dt"))
    )
    scored = (
        dots.join(
            F.broadcast(nl.withColumnRenamed("label", "clabel")), ["f", "clabel"]
        )
        .join(F.broadcast(ss.withColumnRenamed("label", "clabel")), ["f", "clabel"])
        .join(xx, "vec_id")
        .select(
            "vec_id",
            "f",
            "clabel",
            F.expr("(n * n * x2 - 2 * n * dt + ss2) DIV (n * n)").alias("d2q"),
        )
    )
    wr = Window.partitionBy("vec_id", "f").orderBy("d2q", "clabel")
    pred = (
        scored.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == 1)
        .select("vec_id", "f", F.col("clabel").alias("pred_label"))
    )
    ntr = nl.groupBy("f").agg(F.sum("n").cast("long").alias("n_train"))
    return (
        pred.join(test, "vec_id")
        .groupBy("f")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.count(F.when(F.col("pred_label") == F.col("true_label"), 1))
            .cast("long")
            .alias("n_correct"),
        )
        .join(F.broadcast(ntr), "f")
        .select(
            F.col("f").alias("train_buckets"),
            "n_train",
            "n_test",
            "n_correct",
            F.expr("CAST(n_correct * 1000000 DIV n_test AS BIGINT)").alias(
                "accuracy_ppm"
            ),
        )
    )
