"""Approximate nearest neighbors: random-hyperplane LSH bucketing
(driver mandate — the scale path next to the brute-force baseline in
similarity.py).

8 signed projections -> an 8-bit bucket id per vector; the probe only
compares against its own bucket (1/256 of the corpus in expectation),
then exact cosine re-ranks the candidates. The hyperplanes are
deterministic pseudo-random vectors derived from md5 in Python and
embedded as LITERALS in both the Spark plan and the oracle SQL, so
both engines run the identical computation (same doubles, same signs,
same buckets).

Scale notes (100 TB): bucketing is a narrow map (64-dim dot with 8
broadcast planes); the corpus partitions by bucket id — candidate
generation is a partition-pruned scan, re-rank is per-bucket. Recall
is tuned by bits and multi-probe (flipping low-margin bits); the
baseline q_sim_cosine_topk measures the recall cost.

Each ANN decision is written once, in a private helper:
  * _with_recall — the top-k cut, its rank window and recall@k against
    the exact top-k: q_sim_ann_ivf, q_sim_ann_pq, q_sim_ann_lsh and
    q_sim_ann_multiprobe;
  * _ivf_lists — the IVF assignment (K_CENT broadcast centroids,
    r4-staged cosine, rank by (csim desc, cid)): q_sim_ann_ivf and,
    through _panel_frame, q_sim_recall_report and q_sim_ann_tune;
  * _panel_frame — per-(probe count, query) candidate and hit counts
    over a query panel: recall_report_frame (one probe count) and
    ann_tune_frame (the TUNE_PROBES sweep plus its zero-filled spine);
  * _lsh_candidates — the probe collect, its Python bucket and norm
    folds and the bucket-filtered candidate scan: q_sim_ann_lsh (its own
    bucket) and q_sim_ann_multiprobe (MULTIPROBE_XORS).
The DuckDB oracles stay written out in full: they are the reference
implementations the helpers are checked against.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jsmr_spark.compat import r4
from jsmr_spark.queries.common import constants, t
from jsmr_spark.queries.similarity import PROBE_ID, _dot, _norm, _probe_sims
from jsmr_spark.registry import query

N_PLANES = 8
N_DIMS = 64
TOP_K = 10


def _with_recall(spark: SparkSession, sf_dir: str, cand: DataFrame) -> DataFrame:
    """Cut the candidates (vec_id, ..., sim) to the top TOP_K by (sim
    desc, vec_id), rank them, and append recall@k vs the exact
    brute-force top-k (VERDICT r2 #7). The cut is a
    TakeOrderedAndProject over the candidates; the rank window only
    sees the k survivors.

    The exact ground truth is the same ranking q_sim_cosine_topk is
    oracle-verified on (identical sim kernel, identical tie-break), so
    recall_at_10 is deterministic and hash-checkable on both engines.
    The instrumentation is a 10x10 semi-join + a 1-row broadcast —
    negligible next to the ANN plan itself. At 100 TB the same column
    is what tunes bits/N_PROBE, computed over a probe SAMPLE rather
    than every query."""
    keys = [F.desc("sim"), F.asc("vec_id")]
    ranked = (
        cand.orderBy(*keys)
        .limit(TOP_K)
        .withColumn("rnk", F.row_number().over(Window.orderBy(*keys)))
    )
    exact = (
        _probe_sims(spark, sf_dir)
        .orderBy(F.desc("sim"), F.asc("vec_b"))
        .limit(TOP_K)
        .select(F.col("vec_b").alias("vec_id"))
    )
    hits = ranked.join(exact, "vec_id", "semi").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return (
        ranked.crossJoin(F.broadcast(hits))
        .withColumn("recall_at_10", F.col("n_hits") / F.lit(float(TOP_K)))
        .drop("n_hits")
    )


def _plane(p: int) -> list[float]:
    """Deterministic pseudo-random hyperplane component values in
    [-1, 1], derived from md5 — identical constants on both engines."""
    out = []
    for d in range(N_DIMS):
        h = int(hashlib.md5(f"plane{p}_{d}".encode()).hexdigest()[:12], 16)
        out.append((h % 2001 - 1000) / 1000.0)
    return out


def planes_for(n: int) -> list[list[float]]:
    """First n deterministic hyperplanes — the generator is indexed, so
    growing the plane count (the planes ~ log2(N) deployment rule,
    SCALE.md) extends the same family rather than re-drawing it."""
    return [_plane(p) for p in range(n)]


PLANES = planes_for(N_PLANES)


def _bucket_sql(vec: str) -> str:
    """SQL for the 8-bit LSH bucket of `vec` (list literal planes)."""
    bits = []
    for p, w in enumerate(PLANES):
        lit = "[" + ", ".join(f"{x:.3f}" for x in w) + "]"
        dot = (
            f"list_aggregate(list_transform({vec}, (x, i) -> "
            f"CAST(x AS DOUBLE) * ({lit}::DOUBLE[])[i]), 'sum')"
        )
        bits.append(f"(CASE WHEN {dot} > 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(bits) + ")"


# Corpus-adaptive plane count (VERDICT r5 #6): expected bucket size is
# n / 2^planes, so FROZEN planes make the candidate join quadratic the
# moment the corpus outgrows them; planes = max(8, ceil(log2(n))) keeps
# expected bucket size ~1 and candidate pairs ~linear in n without any
# hand-edited config. The plane family is indexed and deterministic
# (planes_for), so growing the count EXTENDS the same family — the
# first 8 planes are bit-identical to the frozen-8 era. MAX_PLANES
# bounds the static expression (supports corpora to 2^32 docs; the
# masked higher-plane dots are computed-and-discarded, a vectorized
# per-row cost that buys a plan with no data-dependent shape).
MAX_PLANES = 32
_ADAPTIVE_PLANES = planes_for(MAX_PLANES)

N_PLANES_SQL = "greatest(8, CAST(ceil(log2((SELECT count(*) FROM embeddings))) AS INT))"


def _planes_values_sql() -> str:
    """The MAX_PLANES hyperplanes as a VALUES table (pid, w) — lets an
    oracle JOIN on pid < np and compute only np dots per row instead of
    MAX_PLANES masked dots (the masked form made DuckDB re-evaluate the
    scalar subquery and all 32 dots per row: ~20x slower)."""
    rows = []
    for pid, w in enumerate(_ADAPTIVE_PLANES):
        lit = "[" + ", ".join(f"{x:.3f}" for x in w) + "]"
        rows.append(f"({pid}, {lit}::DOUBLE[])")
    return "(VALUES " + ", ".join(rows) + ")"


def bucketed_embeddings_sql() -> str:
    """DuckDB CTE body: (vec_id, embedding, nrm, bucket) with the
    corpus-adaptive bucket — planes joined, not masked. Same dot kernel
    and the same first-8-planes bits as the Spark twin."""
    return f"""
      SELECT e.vec_id, any_value(e.embedding) AS embedding,
             any_value(e.nrm) AS nrm,
             sum(CASE WHEN list_aggregate(list_transform(e.embedding, (x, i) ->
                       CAST(x AS DOUBLE) * pl.w[i]), 'sum') > 0
                      THEN CAST(1 AS BIGINT) << pl.pid
                      ELSE CAST(0 AS BIGINT) END) AS bucket
      FROM (
        SELECT vec_id, embedding,
               sqrt(list_aggregate(list_transform(embedding, (x, i) ->
                    CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm
        FROM embeddings
      ) e
      CROSS JOIN (SELECT {N_PLANES_SQL} AS p) np
      JOIN {_planes_values_sql()} pl(pid, w) ON pl.pid < np.p
      GROUP BY e.vec_id
    """


def _plane_dot(vec, w: list[float]) -> F.Column:
    """vec . w as a sequential double fold over the literal plane w."""
    plane = F.array(*[F.lit(x) for x in w])
    return F.aggregate(
        F.zip_with(vec, plane, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _bucket_col_adaptive(vec, np_col) -> F.Column:
    """Spark twin of bucketed_embeddings_sql's bucket (np_col from a
    1-row broadcast aggregate, so the whole thing stays one lazy DAG).
    Unlike the oracle's planes-join, the static column expression
    computes all MAX_PLANES dots and masks — JVM-vectorized, and the
    plan keeps a data-independent shape."""
    out = F.lit(0).cast("long")
    for p, w in enumerate(_ADAPTIVE_PLANES):
        out = out + F.when(
            (F.lit(p) < np_col) & (_plane_dot(vec, w) > 0), F.lit(1 << p).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return out


def n_planes_col(src: DataFrame) -> DataFrame:
    """1-row DataFrame with the adaptive plane count for `src` —
    broadcast-crossJoin it into the bucketing select."""
    return src.agg(
        F.greatest(F.lit(8).cast("long"), F.ceil(F.log2(F.count(F.lit(1)))))
        .cast("int")
        .alias("np")
    )


def _bucket_col(vec, plane_set: list[list[float]] | None = None) -> F.Column:
    bits = [
        F.when(_plane_dot(vec, w) > 0, F.lit(1 << p)).otherwise(F.lit(0))
        for p, w in enumerate(plane_set if plane_set is not None else PLANES)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


_SIM_BP_DD = (
    "round(list_aggregate(list_transform(b.embedding, (x, i) ->"
    " CAST(x AS DOUBLE) * CAST(p.embedding[i] AS DOUBLE)), 'sum')"
    " / (sqrt(list_aggregate(list_transform(b.embedding, (x, i) -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))"
    " * sqrt(list_aggregate(list_transform(p.embedding, (x, i) -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))), 4)"
)

_ANN_ORACLE = f"""
    WITH bucketed AS (
      SELECT vec_id, label, embedding, {_bucket_sql("embedding")} AS bucket
      FROM embeddings
    ),
    probe AS (SELECT * FROM bucketed WHERE vec_id = {PROBE_ID}),
    cand AS (
      SELECT b.vec_id, b.label, b.bucket, {_SIM_BP_DD} AS sim
      FROM bucketed b, probe p
      WHERE b.bucket = p.bucket AND b.vec_id <> {PROBE_ID}
    ),
    topk AS (
      SELECT vec_id, label, bucket, sim, rnk
      FROM (SELECT *, row_number() OVER (ORDER BY sim DESC, vec_id) AS rnk FROM cand) x
      WHERE rnk <= {TOP_K}
    ),
    allsims AS (
      SELECT b.vec_id, {_SIM_BP_DD} AS sim
      FROM bucketed b, probe p WHERE b.vec_id <> {PROBE_ID}
    ),
    exact AS (
      SELECT vec_id
      FROM (SELECT vec_id, row_number() OVER (ORDER BY sim DESC, vec_id) AS rnk
            FROM allsims) e
      WHERE rnk <= {TOP_K}
    ),
    hits AS (SELECT count(*) AS n_hits FROM topk t JOIN exact e USING (vec_id))
    SELECT t.vec_id, t.label, t.bucket, t.sim, t.rnk,
           CAST(h.n_hits AS DOUBLE) / {TOP_K}.0 AS recall_at_10
    FROM topk t, hits h
"""


K_CENT = 16  # IVF list count (deterministic "trained" centroids)
N_PROBE = 2  # lists probed per query


_IVF_ORACLE = f"""
    WITH normed AS (
      SELECT vec_id, label, embedding, {{norm}} AS nrm FROM embeddings
    ),
    cent AS (
      SELECT vec_id AS cid, embedding AS c_emb, nrm AS c_nrm
      FROM normed WHERE vec_id < {K_CENT}
    ),
    scored AS (
      SELECT n.vec_id, n.label, n.embedding, n.nrm, c.cid,
             round(list_aggregate(list_transform(n.embedding, (x, i) ->
                       CAST(x AS DOUBLE) * CAST(c.c_emb[i] AS DOUBLE)), 'sum')
                   / (n.nrm * c.c_nrm), 4) AS csim
      FROM normed n, cent c
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY csim DESC, cid) AS crn
      FROM scored
    ),
    assigned AS (SELECT vec_id, label, embedding, nrm, cid FROM ranked WHERE crn = 1),
    plists AS (SELECT cid FROM ranked WHERE vec_id = {PROBE_ID} AND crn <= {N_PROBE}),
    probe AS (SELECT embedding AS p_emb, nrm AS p_nrm FROM normed WHERE vec_id = {PROBE_ID}),
    cand AS (
      SELECT a.vec_id, a.label, a.cid AS list_id,
             round(list_aggregate(list_transform(a.embedding, (x, i) ->
                       CAST(x AS DOUBLE) * CAST(p.p_emb[i] AS DOUBLE)), 'sum')
                   / (a.nrm * p.p_nrm), 4) AS sim
      FROM assigned a JOIN plists l ON a.cid = l.cid CROSS JOIN probe p
      WHERE a.vec_id <> {PROBE_ID}
    ),
    topk AS (
      SELECT vec_id, label, list_id, sim, rnk
      FROM (SELECT *, row_number() OVER (ORDER BY sim DESC, vec_id) AS rnk FROM cand) x
      WHERE rnk <= {TOP_K}
    ),
    allsims AS (
      SELECT n.vec_id,
             round(list_aggregate(list_transform(n.embedding, (x, i) ->
                       CAST(x AS DOUBLE) * CAST(p.p_emb[i] AS DOUBLE)), 'sum')
                   / (n.nrm * p.p_nrm), 4) AS sim
      FROM normed n, probe p WHERE n.vec_id <> {PROBE_ID}
    ),
    exact AS (
      SELECT vec_id
      FROM (SELECT vec_id, row_number() OVER (ORDER BY sim DESC, vec_id) AS rnk
            FROM allsims) e
      WHERE rnk <= {TOP_K}
    ),
    hits AS (SELECT count(*) AS n_hits FROM topk t JOIN exact e USING (vec_id))
    SELECT t.vec_id, t.label, t.list_id, t.sim, t.rnk,
           CAST(h.n_hits AS DOUBLE) / {TOP_K}.0 AS recall_at_10
    FROM topk t, hits h
""".format(
    norm=(
        "sqrt(list_aggregate(list_transform(embedding, (x, i) -> "
        "CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))"
    )
)


def _ivf_lists(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The IVF assignment against the K_CENT broadcast centroids.
    Returns base (vec_id, label, embedding, nrm), the normed corpus;
    ranked, base x centroids with csim and crn (the centroid's rank for
    that vector by csim desc, cid); and assigned, the crn = 1 rows
    (vec_id, label, embedding, nrm, cid)."""
    base = t(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    cent = F.broadcast(
        base.filter(F.col("vec_id") < K_CENT).select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("c_emb"),
            F.col("nrm").alias("c_nrm"),
        )
    )
    # Raw sims staged before r4 (r12): r4 references its argument twice
    # and HOF folds are interpreted, so inlining doubled the corpus x
    # K_CENT assignment folds (the dominant data work of these keys).
    csim_raw = _dot(F.col("embedding"), F.col("c_emb")) / (
        F.col("nrm") * F.col("c_nrm")
    )
    cols = ["vec_id", "label", "embedding", "nrm", "cid"]
    scored = base.crossJoin(cent).select(*cols, csim_raw.alias("csim_raw")).select(
        *cols, r4(F.col("csim_raw")).alias("csim")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("csim"), F.asc("cid"))
    ranked = scored.withColumn("crn", F.row_number().over(w))
    assigned = ranked.filter(F.col("crn") == 1).select(*cols)
    return base, ranked, assigned


@query("q_sim_ann_ivf", _IVF_ORACLE)
def q_sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest centroid list,
    probe the query's N_PROBE nearest lists, exact cosine re-rank,
    recall@10 vs the exact baseline as an output column.

    Centroids are deterministic (the K_CENT lowest vec_ids stand in for
    a k-means codebook — centroid QUALITY is orthogonal to the plan
    shape being exercised). The 100 TB shape is exactly this plan:
    assignment is a narrow map against K broadcast centroids + a
    per-vector argmin (keyed window over K rows, map-side); at rest the
    corpus would be WRITTEN partitioned by list_id (sink_partitioned's
    layout), making each probe a partition-pruned scan of N_PROBE/K of
    the data; re-rank is TakeOrdered over the probed lists only."""
    base, ranked, assigned = _ivf_lists(spark, sf_dir)
    plists = F.broadcast(
        ranked.filter((F.col("vec_id") == PROBE_ID) & (F.col("crn") <= N_PROBE)).select("cid")
    )
    probe = F.broadcast(
        base.filter(F.col("vec_id") == PROBE_ID).select(
            F.col("embedding").alias("p_emb"), F.col("nrm").alias("p_nrm")
        )
    )
    sim_raw = _dot(F.col("embedding"), F.col("p_emb")) / (
        F.col("nrm") * F.col("p_nrm")
    )
    cand = (
        assigned.join(plists, "cid")
        .crossJoin(probe)
        .filter(F.col("vec_id") != PROBE_ID)
        .select("vec_id", "label", F.col("cid").alias("list_id"), sim_raw.alias("sim_raw"))
        .select("vec_id", "label", "list_id", r4(F.col("sim_raw")).alias("sim"))
    )
    return _with_recall(spark, sf_dir, cand)


# --- Scalar-quantization ANN (PQ-style asymmetric distance) ----------
#
# 2 bits per dimension: each float falls into one of 4 fixed intervals
# and is reconstructed as that interval's representative value. The
# candidate scan ranks by dot(reconstructed corpus vector, EXACT probe)
# — asymmetric distance computation, the trick that makes PQ work —
# then the CAND_K survivors are re-ranked with their full vectors.
SQ_BOUNDS = (-0.25, 0.0, 0.25)
SQ_LEVELS = (-0.5, -0.125, 0.125, 0.5)
CAND_K = 50

_SQ_CASE = (
    f"CASE WHEN CAST({{x}} AS DOUBLE) < {SQ_BOUNDS[0]} THEN {SQ_LEVELS[0]} "
    f"WHEN CAST({{x}} AS DOUBLE) < {SQ_BOUNDS[1]} THEN {SQ_LEVELS[1]} "
    f"WHEN CAST({{x}} AS DOUBLE) < {SQ_BOUNDS[2]} THEN {SQ_LEVELS[2]} "
    f"ELSE {SQ_LEVELS[3]} END"
)


def _sq_recon_col(vec) -> F.Column:
    """Spark twin of _SQ_CASE: elementwise quantize-reconstruct."""
    x = lambda e: e.cast("double")  # noqa: E731
    return F.transform(
        vec,
        lambda e: F.when(x(e) < SQ_BOUNDS[0], F.lit(SQ_LEVELS[0]))
        .when(x(e) < SQ_BOUNDS[1], F.lit(SQ_LEVELS[1]))
        .when(x(e) < SQ_BOUNDS[2], F.lit(SQ_LEVELS[2]))
        .otherwise(F.lit(SQ_LEVELS[3])),
    )


_SQ_X = _SQ_CASE.format(x="x")
_PQ_ORACLE = f"""
    WITH probe AS (
      SELECT embedding AS p_emb,
             sqrt(list_aggregate(list_transform(embedding, (x, i) ->
                  CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS p_nrm
      FROM embeddings WHERE vec_id = {PROBE_ID}
    ),
    cand AS (
      SELECT b.vec_id, b.label, b.embedding,
             round(list_aggregate(list_transform(b.embedding, (x, i) ->
                       ({_SQ_X}) * CAST(p.p_emb[i] AS DOUBLE)), 'sum')
                   / (sqrt(list_aggregate(list_transform(b.embedding, (x, i) ->
                            ({_SQ_X}) * ({_SQ_X})), 'sum')) * p.p_nrm), 4) AS qsim
      FROM embeddings b, probe p WHERE b.vec_id <> {PROBE_ID}
    ),
    topc AS (
      SELECT vec_id, label, embedding, qsim
      FROM (SELECT *, row_number() OVER (ORDER BY qsim DESC, vec_id) AS qrn FROM cand) x
      WHERE qrn <= {CAND_K}
    ),
    rer AS (
      SELECT t.vec_id, t.label, t.qsim,
             round(list_aggregate(list_transform(t.embedding, (x, i) ->
                       CAST(x AS DOUBLE) * CAST(p.p_emb[i] AS DOUBLE)), 'sum')
                   / (sqrt(list_aggregate(list_transform(t.embedding, (x, i) ->
                            CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) * p.p_nrm), 4) AS sim
      FROM topc t, probe p
    ),
    topk AS (
      SELECT vec_id, label, qsim, sim, rnk
      FROM (SELECT *, row_number() OVER (ORDER BY sim DESC, vec_id) AS rnk FROM rer) x
      WHERE rnk <= {TOP_K}
    ),
    allsims AS (
      SELECT b.vec_id,
             round(list_aggregate(list_transform(b.embedding, (x, i) ->
                       CAST(x AS DOUBLE) * CAST(p.p_emb[i] AS DOUBLE)), 'sum')
                   / (sqrt(list_aggregate(list_transform(b.embedding, (x, i) ->
                            CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) * p.p_nrm), 4) AS sim
      FROM embeddings b, probe p WHERE b.vec_id <> {PROBE_ID}
    ),
    exact AS (
      SELECT vec_id
      FROM (SELECT vec_id, row_number() OVER (ORDER BY sim DESC, vec_id) AS rnk
            FROM allsims) e
      WHERE rnk <= {TOP_K}
    ),
    hits AS (SELECT count(*) AS n_hits FROM topk t JOIN exact e USING (vec_id))
    SELECT t.vec_id, t.label, t.qsim, t.sim, t.rnk,
           CAST(h.n_hits AS DOUBLE) / {TOP_K}.0 AS recall_at_10
    FROM topk t, hits h
"""


@query("q_sim_ann_pq", _PQ_ORACLE)
def q_sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-style ANN via 2-bit scalar quantization + asymmetric distance:
    the candidate scan ranks by dot(reconstructed corpus vector, EXACT
    probe vector), the CAND_K survivors re-rank with their full floats,
    recall@10 emitted like the LSH/IVF siblings.

    This is the third ANN scale path next to LSH (hash-pruned) and IVF
    (list-pruned), and the one that attacks MEMORY rather than
    candidate count: 2 bits/dim turns a 256 B float32 vector into 16 B
    of codes, so the exhaustive candidate pass scans 16x less data (at
    rest: a codes column next to the vector column; only the CAND_K
    re-rank fetches full vectors). Quantization bounds are fixed
    literals — data-independent by design, so both engines compute
    identical codes and the result stays hash-checked; a production
    codebook would be trained per-corpus, changing constants, not the
    plan."""
    # Probe as a lazy pre-normed 1-row broadcast (r12, guide §5: no
    # driver collect in the query path — the old .head() form launched
    # a Spark job per DataFrame build and left _norm(<64-literal
    # array>) re-folding per candidate row; HOFs are not constant-
    # folded). The probe norm still routes through the shared
    # engine-side sequential-fold kernel (VERDICT r10 #3), computed
    # ONCE on the 1-row side — same doubles, bit-identical sims. The
    # probe is joined twice (qsim pass, re-rank) so the TakeOrdered
    # between them stays narrow — both joins are 1-row broadcasts.
    probe = F.broadcast(
        t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == PROBE_ID)
        .select(
            F.col("embedding").alias("p_emb"),
            _norm(F.col("embedding")).alias("p_nrm"),
        )
    )
    # recon (a transform HOF) and the raw qsim are staged through
    # columns (r12): inlined, recon was re-evaluated inside BOTH the
    # dot and the norm folds, and r4's double reference doubled all of
    # it — up to 4 recon passes + 2 dot + 2 norm folds per row. Staged:
    # one recon, one dot, one norm. Same doubles, same hash.
    cand = (
        t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") != PROBE_ID)
        .crossJoin(probe)
        .select(
            "vec_id",
            "label",
            "embedding",
            "p_emb",
            "p_nrm",
            _sq_recon_col(F.col("embedding")).alias("recon"),
        )
        .select(
            "vec_id",
            "label",
            "embedding",
            (
                _dot(F.col("recon"), F.col("p_emb"))
                / (_norm(F.col("recon")) * F.col("p_nrm"))
            ).alias("qsim_raw"),
        )
        .select("vec_id", "label", "embedding", r4(F.col("qsim_raw")).alias("qsim"))
    )
    topc = cand.orderBy(F.desc("qsim"), F.asc("vec_id")).limit(CAND_K)
    sim_raw = _dot(F.col("embedding"), F.col("p_emb")) / (
        _norm(F.col("embedding")) * F.col("p_nrm")
    )
    rer = (
        topc.crossJoin(probe)
        .withColumn("sim_raw", sim_raw)
        .withColumn("sim", r4(F.col("sim_raw")))
        .drop("embedding", "p_emb", "p_nrm", "sim_raw")
    )
    return _with_recall(spark, sf_dir, rer)


def _bucket_py(emb: list[float]) -> int:
    """Python twin of _bucket_col/_bucket_sql for a collected probe
    vector: same planes, same sequential double accumulation, same sign
    test — bit-identical bucket id."""
    b = 0
    for p, w in enumerate(PLANES):
        acc = 0.0
        for x, y in zip(emb, w):
            acc += x * y
        if acc > 0:
            b |= 1 << p
    return b


def _lsh_candidates(
    spark: SparkSession, sf_dir: str, xors: tuple[int, ...]
) -> DataFrame:
    """LSH candidates (vec_id, label, bucket, sim) of the probe: every
    other vector whose bucket is xor(probe bucket, x) for some x in
    `xors`, scored by exact cosine against the probe. q_sim_ann_lsh
    passes (0,) (its own bucket; Spark's OptimizeIn turns the 1-element
    IN into `=`), q_sim_ann_multiprobe passes MULTIPROBE_XORS.

    The probe embedding, its norm, and its bucket are collected once
    (1-row pushed-down read) and inlined as literals — the candidate
    filter `bucket IN (<lits>)` then needs no join at all, and at rest
    a corpus written partitioned by bucket makes it a partition-pruned
    scan.

    FINAL (r13, VERDICT r12 #6): the build-time collect stays. A
    scalar-subquery form (`bucket = (SELECT bucket ... WHERE vec_id =
    probe)`) was tried and its predicate lands in a post-scan Filter —
    NOT in PushedFilters, and partition pruning at rest requires a
    plan-time literal, which only the collect can produce (Spark does
    no DPP for non-join scalar-subquery predicates). Measured cost of
    the 1-row pushed-filter head(): 115 ms warm best-of-5 at sf0.1 —
    the price of keeping the partition-pruning story."""
    row = (
        t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == PROBE_ID)
        .select("embedding")
        .head()
    )
    emb_p = [float(x) for x in row[0]]
    p_bucket = _bucket_py(emb_p)
    plit = F.array(*[F.lit(x) for x in emb_p])

    # Probe norm computed ONCE in Python with the same sequential
    # left-fold as _norm (acc += x*x, then sqrt — IEEE-identical to the
    # engine fold over the same widened doubles; the _bucket_py parity
    # argument). The ADVICE r9 ulp concern was about REORDERED
    # accumulation (numpy pairwise summation); a plain Python loop is
    # the identical op sequence the engine fold runs (re-verified MATCH
    # at sf0.01 and sf0.1). Inlined as _norm(plit) it was an
    # interpreted 64-term fold re-run per candidate row, doubled again
    # by r4's two references. sim_raw staged before r4 (r12): one dot
    # + one corpus-norm fold per row.
    p_acc = 0.0
    for _x in emb_p:
        p_acc += _x * _x
    p_nrm = math.sqrt(p_acc)

    emb = t(spark, sf_dir, "embeddings").withColumn("bucket", _bucket_col(F.col("embedding")))
    # Same operand order as the oracle: dot(corpus, probe) /
    # (norm_corpus * norm_probe).
    sim_raw = _dot(F.col("embedding"), plit) / (
        _norm(F.col("embedding")) * F.lit(p_nrm)
    )
    probed = [p_bucket ^ x for x in xors]
    return (
        emb.filter(F.col("bucket").isin(probed) & (F.col("vec_id") != PROBE_ID))
        .select("vec_id", "label", "bucket", sim_raw.alias("sim_raw"))
        .select("vec_id", "label", "bucket", r4(F.col("sim_raw")).alias("sim"))
    )


@query("q_sim_ann_lsh", _ANN_ORACLE)
def q_sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k: hyperplane-LSH bucket prefilter + exact cosine
    re-rank within the probe's bucket, with recall@10 measured against
    the exact baseline.

    The probe's bucket is a plan-time literal (the build-time probe
    collect in _lsh_candidates, whose docstring records why it stays),
    so the candidate filter needs no join and at rest prunes to one
    bucket partition."""
    return _with_recall(spark, sf_dir, _lsh_candidates(spark, sf_dir, (0,)))


# --- batch ANN evaluation: recall@k over a query SET -----------------

RECALL_QMOD = 50  # eval set = every 50th vec_id (grows with the corpus)

_RECALL_ORACLE = f"""
    WITH normed AS (
      SELECT vec_id, embedding,
             sqrt(list_aggregate(list_transform(embedding, (x, i) ->
                  CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm
      FROM embeddings
    ),
    cent AS (
      SELECT vec_id AS cid, embedding AS c_emb, nrm AS c_nrm
      FROM normed WHERE vec_id < {K_CENT}
    ),
    scored AS (
      SELECT n.vec_id, n.embedding, n.nrm, c.cid,
             round(list_aggregate(list_transform(n.embedding, (x, i) ->
                       CAST(x AS DOUBLE) * CAST(c.c_emb[i] AS DOUBLE)), 'sum')
                   / (n.nrm * c.c_nrm), 4) AS csim
      FROM normed n, cent c
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY csim DESC, cid) AS crn
      FROM scored
    ),
    assigned AS (SELECT vec_id, embedding, nrm, cid FROM ranked WHERE crn = 1),
    queries AS (
      SELECT vec_id AS qid, embedding AS q_emb, nrm AS q_nrm
      FROM normed WHERE vec_id % {RECALL_QMOD} = 0
    ),
    qlists AS (
      SELECT vec_id AS qid, cid FROM ranked
      WHERE vec_id % {RECALL_QMOD} = 0 AND crn <= {N_PROBE}
    ),
    cand AS (
      SELECT q.qid, a.vec_id,
             round(list_aggregate(list_transform(a.embedding, (x, i) ->
                       CAST(x AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)), 'sum')
                   / (a.nrm * q.q_nrm), 4) AS sim
      FROM assigned a
      JOIN qlists l ON a.cid = l.cid
      JOIN queries q ON q.qid = l.qid
      WHERE a.vec_id <> q.qid
    ),
    ivf_top AS (
      SELECT qid, vec_id FROM (
        SELECT *, row_number() OVER (PARTITION BY qid
                                     ORDER BY sim DESC, vec_id) AS rnk
        FROM cand) x WHERE rnk <= {TOP_K}
    ),
    nc AS (SELECT qid, count(*) AS n_cand FROM cand GROUP BY qid),
    allsims AS (
      SELECT q.qid, n.vec_id,
             round(list_aggregate(list_transform(n.embedding, (x, i) ->
                       CAST(x AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)), 'sum')
                   / (n.nrm * q.q_nrm), 4) AS sim
      FROM normed n, queries q WHERE n.vec_id <> q.qid
    ),
    exact_top AS (
      SELECT qid, vec_id FROM (
        SELECT *, row_number() OVER (PARTITION BY qid
                                     ORDER BY sim DESC, vec_id) AS rnk
        FROM allsims) x WHERE rnk <= {TOP_K}
    ),
    hits AS (
      SELECT i.qid,
             CAST(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hits
      FROM ivf_top i LEFT JOIN exact_top e
        ON e.qid = i.qid AND e.vec_id = i.vec_id
      GROUP BY i.qid
    )
    SELECT h.qid, nc.n_cand, h.n_hits,
           CAST(h.n_hits AS DOUBLE) / {TOP_K}.0 AS recall_at_10
    FROM hits h JOIN nc ON nc.qid = h.qid
"""


@query("q_sim_recall_report", _RECALL_ORACLE, eval_tier=True)
def q_sim_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ANN evaluation: recall@{TOP_K} of the IVF route (same
    codebook/probe config as q_sim_ann_ivf) measured over a QUERY SET
    (every {RECALL_QMOD}th vector, so the eval set scales with the
    corpus) — the tuning readout that decides K_CENT/N_PROBE before a
    100 TB index is frozen. Output: per-query candidate count, hits
    against the exact brute-force top-{TOP_K}, and recall.

    eval_tier: the corpus-proportional panel makes the exact baseline
    corpus x panel — quadratic by construction (a tuning INSTRUMENT,
    not a serving path; the fixed-panel control in tools/scale_probe.py
    shows the operator itself scales at x1.1).

    Scale shape: assignment is the same narrow map against broadcast
    centroids as the serving path; the per-query probe lists and query
    vectors broadcast (eval sets are tiny vs the corpus), so candidate
    scoring is a map-side join — ONE shuffle total, the per-qid top-k
    window. The exact baseline is corpus x query-set brute force — at
    100 TB you run it over a SAMPLED eval slice exactly like this
    (it is the ground-truth cost, not the serving cost). All sims
    round to 4dp through the shared kernel, ranks tie-break on vec_id,
    so the report is hash-stable cross-engine."""
    return recall_report_frame(spark, sf_dir, RECALL_QMOD)


def _panel_queries(base: DataFrame, qmod: int) -> DataFrame:
    """The eval panel (qid, q_emb, q_nrm): every vector with vec_id %
    qmod == 0, broadcast (eval sets are tiny vs the corpus)."""
    return F.broadcast(
        base.filter(F.col("vec_id") % qmod == 0).select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
        )
    )


def _panel_frame(
    spark: SparkSession, sf_dir: str, qmod: int, probes: tuple[int, ...]
) -> DataFrame:
    """IVF evaluation over the query panel (vec_id % qmod == 0) at each
    probe count p in `probes`: (p, qid, n_cand, n_hits) for every query
    with at least one candidate at p. n_cand counts the vectors in the
    query's p nearest lists; n_hits counts its top-TOP_K among them that
    are also in its exact brute-force top-TOP_K. Candidates are scored
    once, at max(probes); a smaller p filters them (crn <= p)."""
    base, ranked, assigned = _ivf_lists(spark, sf_dir)
    queries = _panel_queries(base, qmod)
    qlists = F.broadcast(
        ranked.filter(
            (F.col("vec_id") % qmod == 0) & (F.col("crn") <= max(probes))
        ).select(F.col("vec_id").alias("qid"), "cid", "crn")
    )
    sim_raw = _dot(F.col("embedding"), F.col("q_emb")) / (
        F.col("nrm") * F.col("q_nrm")
    )
    cand = (
        assigned.join(qlists, "cid")
        .join(queries, "qid")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", "crn", sim_raw.alias("sim_raw"))
        .select("qid", "vec_id", "crn", r4(F.col("sim_raw")).alias("sim"))
        .crossJoin(constants(spark, "p int", [(p,) for p in probes]))
        .filter(F.col("crn") <= F.col("p"))
        .select("p", "qid", "vec_id", "sim")
    )
    wq = Window.partitionBy("p", "qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    top = cand.withColumn("rnk", F.row_number().over(wq)).filter(
        F.col("rnk") <= TOP_K
    )
    allsims = (
        base.crossJoin(queries)
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", sim_raw.alias("sim_raw"))
        .select("qid", "vec_id", r4(F.col("sim_raw")).alias("sim"))
    )
    wq1 = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    exact_top = (
        allsims.withColumn("rnk", F.row_number().over(wq1))
        .filter(F.col("rnk") <= TOP_K)
        .select("qid", "vec_id", F.lit(1).alias("inx"))
    )
    nc = cand.groupBy("p", "qid").agg(
        F.count(F.lit(1)).cast("long").alias("n_cand")
    )
    hits = (
        top.select("p", "qid", "vec_id")
        .join(exact_top, ["qid", "vec_id"], "left")
        .groupBy("p", "qid")
        .agg(F.sum(F.coalesce(F.col("inx"), F.lit(0))).cast("long").alias("n_hits"))
    )
    return hits.join(nc, ["p", "qid"])


def recall_report_frame(spark: SparkSession, sf_dir: str, qmod: int) -> DataFrame:
    """Parameterized body of q_sim_recall_report: qmod sets the eval-set
    stride (queries = vec_id % qmod == 0). The registered key uses
    RECALL_QMOD for oracle parity; tools/scale_probe.py re-runs the 10x
    corpus with qmod*10 as the fixed-eval-set control — the deployment
    shape, where the eval slice is a constant-size sample however big
    the corpus grows."""
    return _panel_frame(spark, sf_dir, qmod, (N_PROBE,)).select(
        "qid",
        "n_cand",
        "n_hits",
        (F.col("n_hits").cast("double") / float(TOP_K)).alias("recall_at_10"),
    )


MRL_DIMS = (64, 32, 16)  # full head + Matryoshka truncations


def _mrl_rank_sql(d: int) -> str:
    """Top-10 neighbor list of the probe using only the first d dims
    (DuckDB list slice is 1-based inclusive)."""
    dot = (
        f"list_aggregate(list_transform(a.embedding[1:{d}], (x, i) -> "
        f"CAST(x AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), 'sum')"
    )
    nrm = (
        "sqrt(list_aggregate(list_transform(embedding[1:%d], (x, i) -> "
        "CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))" % d
    )
    return f"""
      SELECT vec_b, row_number() OVER (ORDER BY sim DESC, vec_b) AS rnk
      FROM (
        SELECT b.vec_id AS vec_b,
               round({dot} / (a.nrm * b.nrm), 4) AS sim
        FROM (SELECT vec_id, embedding, {nrm} AS nrm FROM embeddings
              WHERE vec_id = {PROBE_ID}) a,
             (SELECT vec_id, embedding, {nrm} AS nrm FROM embeddings
              WHERE vec_id <> {PROBE_ID}) b
      ) s
    """


_MRL_ORACLE = f"""
    WITH full_l AS ({_mrl_rank_sql(MRL_DIMS[0])})
    SELECT d.dims,
           CAST(count(tr.vec_b) AS BIGINT) AS n_overlap,
           round(count(tr.vec_b) / CAST({TOP_K} AS DOUBLE), 4) AS recall_at_{TOP_K}
    FROM (VALUES {", ".join(f"({d})" for d in MRL_DIMS)}) d(dims)
    LEFT JOIN LATERAL (
      SELECT t.vec_b FROM (
        {" UNION ALL ".join(f"SELECT {d} AS dd, vec_b, rnk FROM ({_mrl_rank_sql(d)}) l{d}" for d in MRL_DIMS)}
      ) t
      JOIN full_l f ON f.vec_b = t.vec_b AND f.rnk <= {TOP_K}
      WHERE t.dd = d.dims AND t.rnk <= {TOP_K}
    ) tr ON true
    GROUP BY d.dims
"""


@query("q_ann_mrl", _MRL_ORACLE)
def q_ann_mrl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) dimension-truncation recall: re-rank the probe's
    neighbors using only the first 32 / 16 dims of the embedding and
    report top-10 overlap against the full 64-dim ranking — the report
    that tells you how far you can cut vector width (4x scan and
    memory reduction at 16 dims) before retrieval quality moves. The
    dims=64 row is the self-recall control (must be 1.0, pinned by the
    edge test AND the hash).

    Scale shape: each truncated ranking is the exact-cosine narrow-map
    path (probe attached as a 1-row broadcast, TakeOrdered top-10 — no
    shuffle over the corpus); the overlap join compares 10-row lists.
    Sub-vector norms are recomputed per truncation on both engines
    with the identical formula, so sims hash-match bit-for-bit.

    r12: the per-dim probe slice used to be collected with .head() and
    inlined as literals — THREE driver-side Spark jobs per DataFrame
    build (one per truncation; guide §5: no collect in query paths),
    plus a non-constant-folded _norm(<literal array>) re-folded per
    corpus row. Now one lazy 1-row probe relation carries the sliced
    embedding and its pre-folded norm per dim; same sequential-fold
    kernel, same doubles, bit-identical sims."""
    probe = F.broadcast(
        t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == PROBE_ID)
        .select(
            *[
                c
                for d in MRL_DIMS
                for c in (
                    F.slice("embedding", 1, d).alias(f"p{d}"),
                    _norm(F.slice("embedding", 1, d)).alias(f"pn{d}"),
                )
            ]
        )
    )
    lists = {}
    for d in MRL_DIMS:
        # probe norm engine-side (VERDICT r10 #3 kernel sweep),
        # pre-folded once on the 1-row side. The corpus-side slice and
        # the raw sim are staged through columns (r12): inlined, the
        # slice ran 4x and the folds 2x per row under r4's two
        # references.
        sim_raw = _dot(F.col(f"p{d}"), F.col("sub")) / (
            F.col(f"pn{d}") * _norm(F.col("sub"))
        )
        keys = [F.desc("sim"), F.asc("vec_b")]
        lists[d] = (
            t(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") != PROBE_ID)
            .crossJoin(probe)
            .select(
                F.col("vec_id").alias("vec_b"),
                F.slice("embedding", 1, d).alias("sub"),
                f"p{d}",
                f"pn{d}",
            )
            .select(F.col("vec_b"), sim_raw.alias("sim_raw"))
            .select("vec_b", r4(F.col("sim_raw")).alias("sim"))
            .orderBy(*keys)
            .limit(TOP_K)
            .select("vec_b")
        )
    full = lists[MRL_DIMS[0]].withColumnRenamed("vec_b", "fv")
    parts = [
        lists[d]
        .join(F.broadcast(full), F.col("vec_b") == F.col("fv"), "left")
        .agg(
            F.lit(d).alias("dims"),
            F.count("fv").alias("n_overlap"),
            r4(F.count("fv") / F.lit(float(TOP_K))).alias(f"recall_at_{TOP_K}"),
        )
        for d in MRL_DIMS
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --- IVF probe-count tuning curve (round 9) -----------------------------

TUNE_PROBES = (1, 2, 4)  # n_probe sweep; N_PROBE=2 is the serving config

_TUNE_ORACLE = f"""
    WITH normed AS (
      SELECT vec_id, embedding,
             sqrt(list_aggregate(list_transform(embedding, (x, i) ->
                  CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm
      FROM embeddings
    ),
    cent AS (
      SELECT vec_id AS cid, embedding AS c_emb, nrm AS c_nrm
      FROM normed WHERE vec_id < {K_CENT}
    ),
    scored AS (
      SELECT n.vec_id, n.embedding, n.nrm, c.cid,
             round(list_aggregate(list_transform(n.embedding, (x, i) ->
                       CAST(x AS DOUBLE) * CAST(c.c_emb[i] AS DOUBLE)), 'sum')
                   / (n.nrm * c.c_nrm), 4) AS csim
      FROM normed n, cent c
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY csim DESC, cid) AS crn
      FROM scored
    ),
    assigned AS (SELECT vec_id, embedding, nrm, cid FROM ranked WHERE crn = 1),
    queries AS (
      SELECT vec_id AS qid, embedding AS q_emb, nrm AS q_nrm
      FROM normed WHERE vec_id % {RECALL_QMOD} = 0
    ),
    qlists AS (
      SELECT vec_id AS qid, cid, crn FROM ranked
      WHERE vec_id % {RECALL_QMOD} = 0 AND crn <= {max(TUNE_PROBES)}
    ),
    cand0 AS (
      SELECT q.qid, a.vec_id, l.crn,
             round(list_aggregate(list_transform(a.embedding, (x, i) ->
                       CAST(x AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)), 'sum')
                   / (a.nrm * q.q_nrm), 4) AS sim
      FROM assigned a
      JOIN qlists l ON a.cid = l.cid
      JOIN queries q ON q.qid = l.qid
      WHERE a.vec_id <> q.qid
    ),
    probes AS (SELECT unnest([{", ".join(str(p) for p in TUNE_PROBES)}]) AS p),
    cand AS (
      SELECT probes.p, c.qid, c.vec_id, c.sim
      FROM cand0 c JOIN probes ON c.crn <= probes.p
    ),
    topp AS (
      SELECT p, qid, vec_id FROM (
        SELECT *, row_number() OVER (PARTITION BY p, qid
                                     ORDER BY sim DESC, vec_id) AS rnk
        FROM cand) x WHERE rnk <= {TOP_K}
    ),
    allsims AS (
      SELECT q.qid, n.vec_id,
             round(list_aggregate(list_transform(n.embedding, (x, i) ->
                       CAST(x AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)), 'sum')
                   / (n.nrm * q.q_nrm), 4) AS sim
      FROM normed n, queries q WHERE n.vec_id <> q.qid
    ),
    exact_top AS (
      SELECT qid, vec_id FROM (
        SELECT *, row_number() OVER (PARTITION BY qid
                                     ORDER BY sim DESC, vec_id) AS rnk
        FROM allsims) x WHERE rnk <= {TOP_K}
    ),
    nc AS (SELECT p, qid, CAST(count(*) AS BIGINT) AS n_cand
           FROM cand GROUP BY p, qid),
    hits AS (
      SELECT t.p, t.qid, CAST(count(e.vec_id) AS BIGINT) AS n_hits
      FROM topp t LEFT JOIN exact_top e
        ON e.qid = t.qid AND e.vec_id = t.vec_id
      GROUP BY t.p, t.qid
    ),
    spine AS (SELECT probes.p, queries.qid FROM probes CROSS JOIN queries)
    SELECT s.p AS n_probe,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(coalesce(nc.n_cand, 0)) AS BIGINT) AS total_cand,
           CAST(sum(coalesce(hits.n_hits, 0)) AS BIGINT) AS total_hits,
           CAST(sum(coalesce(hits.n_hits, 0)) * 1000000
                // (count(*) * {TOP_K}) AS BIGINT) AS recall_ppm
    FROM spine s
    LEFT JOIN nc ON nc.p = s.p AND nc.qid = s.qid
    LEFT JOIN hits ON hits.p = s.p AND hits.qid = s.qid
    GROUP BY s.p
"""


@query("q_sim_ann_tune", _TUNE_ORACLE, eval_tier=True)
def q_sim_ann_tune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe-count TUNING CURVE: recall@{TOP_K} and candidate cost
    for n_probe in {TUNE_PROBES}, over the same query panel as
    q_sim_recall_report — the table you read to SET N_PROBE before
    freezing a 100 TB index (q_sim_recall_report evaluates the chosen
    config; this key shows the whole recall-vs-cost frontier so the
    choice is evidence, not folklore). Output per probe count: query
    count, total candidates scanned (the cost axis), total hits and
    exact-ppm recall against the brute-force truth.

    eval_tier: same corpus-proportional panel as q_sim_recall_report,
    so the exact baseline is quadratic by construction (fixed-panel
    control in tools/scale_probe.py: x1.9 — the instrument is fine,
    the registered panel shape is what doesn't scale).

    One-DAG efficiency: candidates are scored ONCE at max(n_probe) —
    the nested property of probe lists (p=1 candidates are a subset of
    p=2's, etc.) means smaller probe counts are a FILTER on the scored
    max-probe set (crn <= p), never a rescan; the exact ground truth is
    also computed once and shared by all three rows. Queries whose
    probed lists hold no other vector still appear (zero-coalesced
    spine join), so the denominator is pinned.

    Scale shape: inherits q_sim_recall_report's plan — broadcast
    centroids for assignment, broadcast query panel + probe lists, one
    keyed top-k window now keyed (n_probe, query); the probe fan-out
    multiplies SCORED ROWS (panel-sized), not corpus scans. The exact
    baseline is the eval cost, sampled exactly like the recall
    report's."""
    return ann_tune_frame(spark, sf_dir, RECALL_QMOD)


def ann_tune_frame(spark: SparkSession, sf_dir: str, qmod: int) -> DataFrame:
    """Parameterized body of q_sim_ann_tune: qmod sets the eval-set
    stride, exactly like recall_report_frame — the 10x scale probe
    re-runs with qmod*10 (constant-size eval panel, the deployment
    shape) to separate per-query cost from the BY-DESIGN quadratic
    growth of a corpus-proportional eval set."""
    base, _, _ = _ivf_lists(spark, sf_dir)
    # The zero-filled spine joins here, outside _panel_frame, so
    # q_sim_recall_report plans no spine scan.
    spine = constants(spark, "p int", [(p,) for p in TUNE_PROBES]).crossJoin(
        _panel_queries(base, qmod).select("qid")
    )
    per = spine.join(
        _panel_frame(spark, sf_dir, qmod, TUNE_PROBES), ["p", "qid"], "left"
    ).select(
        "p",
        "qid",
        F.coalesce(F.col("n_cand"), F.lit(0)).alias("n_cand"),
        F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
    )
    return per.groupBy("p").agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum("n_cand").cast("long").alias("total_cand"),
        F.sum("n_hits").cast("long").alias("total_hits"),
        F.expr(
            f"CAST(sum(n_hits) * 1000000 DIV (count(*) * {TOP_K}) AS BIGINT)"
        ).alias("recall_ppm"),
    ).withColumnRenamed("p", "n_probe")


# --- multi-probe LSH (round 9) ------------------------------------------

# Probed buckets: the probe's own bucket plus every Hamming-1 neighbor
# (one plane's sign flipped) — xor(bucket, probe_bucket) in this set.
MULTIPROBE_XORS = tuple([0] + [1 << i for i in range(N_PLANES)])

_MULTIPROBE_ORACLE = f"""
    WITH bucketed AS (
      SELECT vec_id, label, embedding, {_bucket_sql("embedding")} AS bucket
      FROM embeddings
    ),
    probe AS (SELECT * FROM bucketed WHERE vec_id = {PROBE_ID}),
    cand AS (
      SELECT b.vec_id, b.label, b.bucket, {_SIM_BP_DD} AS sim
      FROM bucketed b, probe p
      WHERE xor(b.bucket, p.bucket) IN {MULTIPROBE_XORS}
        AND b.vec_id <> {PROBE_ID}
    ),
    nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM cand),
    topk AS (
      SELECT vec_id, label, bucket, sim, rnk
      FROM (SELECT *, row_number() OVER (ORDER BY sim DESC, vec_id) AS rnk FROM cand) x
      WHERE rnk <= {TOP_K}
    ),
    allsims AS (
      SELECT b.vec_id, {_SIM_BP_DD} AS sim
      FROM bucketed b, probe p WHERE b.vec_id <> {PROBE_ID}
    ),
    exact AS (
      SELECT vec_id
      FROM (SELECT vec_id, row_number() OVER (ORDER BY sim DESC, vec_id) AS rnk
            FROM allsims) e
      WHERE rnk <= {TOP_K}
    ),
    hits AS (SELECT count(*) AS n_hits FROM topk t JOIN exact e USING (vec_id))
    SELECT t.vec_id, t.label, t.bucket, t.sim, t.rnk, nc.n_cand,
           CAST(h.n_hits AS DOUBLE) / {TOP_K}.0 AS recall_at_10
    FROM topk t, hits h, nc
"""


@query("q_sim_ann_multiprobe", _MULTIPROBE_ORACLE)
def q_sim_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN (Lv et al. 2007): the probe inspects its own
    bucket AND every Hamming-1 neighbor (one hyperplane sign flipped) —
    9 of 2^{N_PLANES} buckets, xor offsets {MULTIPROBE_XORS} — before the exact
    cosine re-rank. This is the LSH-side recall lever that costs NO
    extra index: where q_sim_ann_tune trades candidates for recall by
    probing more IVF lists, multi-probe does it by probing adjacent
    hash buckets, so one table serves many recall targets (the
    alternative — more hash tables — multiplies index memory). A point
    near a hyperplane lands on either side of it with near-equal
    probability; its true neighbors that fell on the other side are
    exactly the Hamming-1 population this key recovers. Emits n_cand
    next to recall so the single-probe key's frontier point
    (q_sim_ann_lsh: same planes, xor = 0 only) is directly comparable.

    Determinism: the probed set is the literal xor list
    {MULTIPROBE_XORS} against the probe's bucket (identical planes →
    identical buckets both engines, the q_sim_ann_lsh argument); the
    re-rank shares the exact sim kernel and tie-break.

    Scale shape: candidate generation stays a partition-pruned scan —
    9 bucket partitions of a bucket-partitioned
    corpus instead of 1, still O(probed fraction), never a corpus
    scan; the re-rank is candidate-sized. At 100 TB the probe set
    generalizes to the query-adaptive form (flip lowest-|margin| bits
    first) with the same plan.

    The probed buckets are plan-time literals (the build-time probe
    collect in _lsh_candidates, shared with q_sim_ann_lsh), so the
    `bucket IN (<9 literals>)` filter can prune partitions at rest."""
    cand = _lsh_candidates(spark, sf_dir, MULTIPROBE_XORS)
    nc = cand.agg(F.count(F.lit(1)).cast("long").alias("n_cand"))
    return _with_recall(spark, sf_dir, cand).crossJoin(F.broadcast(nc)).select(
        "vec_id", "label", "bucket", "sim", "rnk", "n_cand", "recall_at_10"
    )
