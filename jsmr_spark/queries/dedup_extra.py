"""Additional near-duplicate detectors: SimHash, blocked n-gram
Jaccard, and embedding-cosine near-dup (driver mandate; complements
the MinHash-LSH pipeline in dedup.py).

Each detector has a different recall/cost envelope:
  * SimHash — one 32-bit signature per doc, near-dups = small Hamming
    distance; cheapest at scale (signature join / multi-index).
  * Blocked n-gram Jaccard — exact Jaccard but only within
    (lang, source) blocks: the blocking-key pattern that turns O(n^2)
    into sum-of-block^2.
  * Embedding cosine — semantic near-dup; threshold tuned to the
    synthetic corpus (max pairwise cosine here is ~0.6; real corpora
    use ~0.95).

Portability: token/shingle hashes reuse dedup.hex12_sql (md5-derived,
engine-neutral); Hamming distance is bit_count(a XOR b) on both
engines; cosine reuses the explicit double dot product from
similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jsmr_spark.compat import r4
from jsmr_spark.queries.common import persisted, t
from jsmr_spark.queries.dedup import _hex12, hex12_sql
from jsmr_spark.registry import query

SIMHASH_BITS = 32
HAMMING_MAX = 3
NGRAM_JACCARD_MIN = 0.8
EMB_COS_MIN = 0.5

# `//` is DuckDB integer division; bare `/` would be float division.
_BITS_SQL = " + ".join(
    f"(CASE WHEN sum(CASE WHEN (hv // CAST({1 << j} AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END) > 0 "
    f"THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
    for j in range(SIMHASH_BITS)
)

_SIMHASH_CTE = f"""
    docs AS (
      SELECT doc_id, string_split(text, ' ') AS s FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ),
    sh AS (
      SELECT DISTINCT doc_id, sg FROM (
        SELECT doc_id,
               unnest(list_transform(s[1:len(s)-2],
                                     (x, i) -> concat(x, ' ', s[i+1], ' ', s[i+2]))) AS sg
        FROM docs) u
    ),
    hv AS (SELECT doc_id, sg, {hex12_sql("md5(sg)")} AS hv FROM sh),
    sig AS (
      SELECT doc_id, {_BITS_SQL} AS simhash
      FROM hv GROUP BY doc_id
    )
"""


# Pigeonhole blocking (Manku et al.): with the 32-bit signature split
# into 4 byte blocks, any pair within Hamming distance 3 shares at
# least one identical block — candidates come from an EQUI-join on
# (block index, block value) instead of an O(n^2) nested-loop over
# signatures. Result set is provably unchanged.
_N_BLOCKS = 4
_BLOCK_BITS = SIMHASH_BITS // _N_BLOCKS
_ORACLE_BLOCKS = "\n      UNION ALL\n      ".join(
    f"SELECT doc_id, simhash, {j} AS blk, (simhash // CAST({1 << (_BLOCK_BITS * j)} AS BIGINT)) % {1 << _BLOCK_BITS} AS bval FROM sig"
    for j in range(_N_BLOCKS)
)


@query(
    "q_dedup_simhash",
    f"""
    WITH {_SIMHASH_CTE},
    blocks AS (
      {_ORACLE_BLOCKS}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sim_a, b.simhash AS sim_b
      FROM blocks a JOIN blocks b
        ON a.blk = b.blk AND a.bval = b.bval AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, sim_a, sim_b,
           bit_count(xor(sim_a, sim_b)) AS hamming
    FROM cand
    WHERE bit_count(xor(sim_a, sim_b)) <= {HAMMING_MAX}
    """,
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 32-bit majority-vote signature over 3-token
    shingle hashes; pairs within Hamming distance 3. (Integer-only
    pipeline — bit-exact across engines. 16-bit/token-level signatures
    were measured too collision-prone: shared vocabulary correlates the
    majority votes; 32 bits over shingles gives ~1e-6 random collision
    probability at this hamming radius.)"""
    from jsmr_spark.queries.dedup import _shingles

    hv = _shingles(spark, sf_dir)
    bit_cols = [
        F.when(
            F.sum(
                F.when(F.expr(f"hv DIV {1 << j}") % 2 == 1, 1).otherwise(-1)
            )
            > 0,
            F.lit(1 << j).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias(f"b{j}")
        for j in range(SIMHASH_BITS)
    ]
    sig = hv.groupBy("doc_id").agg(*bit_cols)
    # Cached: the block self-join references the signature table on BOTH
    # sides — uncached, the 32-bit-vote aggregation re-executes once per
    # plan branch (the same 8x diamond minhash had). n_docs rows only.
    total = persisted(sig.select(
        "doc_id", sum([F.col(f"b{j}") for j in range(SIMHASH_BITS)], F.lit(0).cast("long")).alias("simhash")
    ))
    # Pigeonhole blocking: equi-join candidates on one-of-4 byte blocks
    # (see oracle comment) — no nested-loop, shuffle keyed on (blk, bval).
    # One posexplode emits all 4 block keys per doc in a single pass.
    blocks = total.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    (F.expr(f"simhash DIV {1 << (_BLOCK_BITS * j)}") % (1 << _BLOCK_BITS))
                    for j in range(_N_BLOCKS)
                ]
            )
        ).alias("blk", "bval"),
    )
    b2 = blocks.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sim_b"),
        F.col("blk").alias("blk_b"),
        F.col("bval").alias("bval_b"),
    )
    cand = (
        blocks.join(
            b2,
            (F.col("blk") == F.col("blk_b"))
            & (F.col("bval") == F.col("bval_b"))
            & (F.col("doc_id") < F.col("doc_b")),
        )
        .select(
            F.col("doc_id").alias("doc_a"),
            "doc_b",
            F.col("simhash").alias("sim_a"),
            "sim_b",
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.expr("sim_a ^ sim_b")).cast("int"))
        .filter(F.col("hamming") <= HAMMING_MAX)
        .select("doc_a", "doc_b", "sim_a", "sim_b", "hamming")
    )


# The intersection joins/dedups on the portable 48-bit bigram hash, not
# the bigram string: 8-byte shuffle keys and long comparisons instead of
# ~15-byte strings, identically on both engines (same parity argument
# as dedup.py's minhash intersection).
_NGRAM_CTE = f"""
    docs AS (
      SELECT doc_id, lang, source, string_split(text, ' ') AS s FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    gr AS (
      SELECT DISTINCT doc_id, lang, source, {hex12_sql("md5(sg)")} AS hv FROM (
        SELECT doc_id, lang, source,
               unnest(list_transform(s[1:len(s)-1], (x, i) -> concat(x, ' ', s[i+1]))) AS sg
        FROM docs) u
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM gr GROUP BY doc_id)
"""


@query(
    "q_dedup_ngram_jaccard",
    f"""
    WITH {_NGRAM_CTE},
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM gr a JOIN gr b
        ON a.lang = b.lang AND a.source = b.source AND a.hv = b.hv AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.doc_a, i.doc_b, i.n_common, sa.n AS n_a, sb.n AS n_b,
           i.n_common / (sa.n + sb.n - i.n_common) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE i.n_common / (sa.n + sb.n - i.n_common) >= {NGRAM_JACCARD_MIN}
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-bigram Jaccard within (lang, source) blocks — the
    blocking-key alternative to LSH candidate generation."""
    docs = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "lang", "source", F.split("text", " ").alias("s"))
        .filter(F.size("s") >= 2)
    )
    # ONE shuffle (keyed by doc) builds the distinct bigram-hash set
    # per document; sizes are a narrow size(hvs) and the join branches
    # a narrow re-explode — the previous distinct-then-groupBy form
    # paid a full-width (doc,lang,source,hv) exchange plus a second
    # sizes exchange for the same result. Cached: feeds both self-join
    # sides plus sizes. Dedup and join run on the 48-bit bigram hash
    # (see _NGRAM_CTE comment).
    gr_sets = persisted(
        docs.select(
            "doc_id",
            "lang",
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(s) - 1), "
                    "i -> concat(element_at(s, i), ' ', element_at(s, i + 1)))"
                )
            ).alias("sg"),
        )
        .select("doc_id", "lang", "source", _hex12(F.md5("sg")).alias("hv"))
        .groupBy("doc_id", "lang", "source")
        .agg(F.collect_set("hv").alias("hvs"))
    )
    gr = gr_sets.select("doc_id", "lang", "source", F.explode("hvs").alias("hv"))
    sizes = gr_sets.select("doc_id", F.size("hvs").cast("long").alias("n"))
    b = gr.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("source").alias("source_b"),
        F.col("hv").alias("hv_b"),
    )
    inter = (
        gr.join(
            b,
            (F.col("lang") == F.col("lang_b"))
            & (F.col("source") == F.col("source_b"))
            & (F.col("hv") == F.col("hv_b"))
            & (F.col("doc_id") < F.col("doc_b")),
        )
        .groupBy(F.col("doc_id").alias("doc_a"), "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= NGRAM_JACCARD_MIN)
        .select("doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard")
    )


@query(
    "q_dedup_embedding",
    f"""
    WITH normed AS (
      SELECT vec_id, embedding,
             sqrt(list_aggregate(list_transform(embedding, (x, i) ->
                  CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm
      FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
             round(list_aggregate(list_transform(a.embedding, (x, i) ->
                       CAST(x AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), 'sum')
               / (a.nrm * b.nrm), 4) AS cos_sim
      FROM normed a JOIN normed b ON a.vec_id < b.vec_id
    )
    SELECT p.doc_a, p.doc_b, p.cos_sim, da.lang AS lang_a, db.lang AS lang_b
    FROM pairs p
    JOIN documents da ON da.doc_id = p.doc_a
    JOIN documents db ON db.doc_id = p.doc_b
    WHERE p.cos_sim >= {EMB_COS_MIN}
    """,
    eval_tier=True,
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup: embedding-cosine pairs over the threshold,
    annotated with the documents' languages (multimodal join of the
    dedup decision back to text metadata).

    eval_tier: the pair source is every-pair block-GEMM cosine
    (vectorized.block_cosine_pairs) — O(n^2) compute by construction,
    kept as the exact calibration baseline for its scalable twins
    (q_sim_ann_lsh hyperplane-bucketed candidates, q_dedup_semantic
    per-cluster GEMM). At 100 TB you run THOSE; this key tells you what
    recall they achieved."""
    from jsmr_spark.vectorized import block_cosine_pairs

    emb = t(spark, sf_dir, "embeddings")
    docs = t(spark, sf_dir, "documents")
    pairs = block_cosine_pairs(emb, EMB_COS_MIN).select(
        F.col("vec_a").alias("doc_a"),
        F.col("vec_b").alias("doc_b"),
        F.col("sim").alias("cos_sim"),
    )
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("lang").alias("lang_a"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("lang").alias("lang_b"))
    return pairs.join(da, "doc_a").join(db, "doc_b").select(
        "doc_a", "doc_b", "cos_sim", "lang_a", "lang_b"
    )


# --- SemDeDup: cluster-then-dedup over the embedding corpus ----------

# Cluster count is CORPUS-ADAPTIVE (round 7): k = clamp(ceil(n / target),
# SEM_K_MIN, SEM_K_MAX) computed as a 1-row aggregate INSIDE the plan and
# mirrored by the oracle's scalar subquery — the q_dedup_clusters_lsh
# recipe. Bounded clusters are the whole point of SemDeDup: k growing
# with n keeps each cluster ~SEM_TARGET vectors, so the within-cluster
# pairwise GEMM stays one-executor-sized at any corpus size. The ceil is
# the positive-only truncating-division form (n + t - 1) DIV t, exact on
# both engines.
SEM_K_MIN = 16       # floor — matches the pre-r7 frozen seed count
SEM_K_MAX = 4096     # bounds the broadcast centroid table (k x 64 rows)
SEM_TARGET = 32      # target cluster size (vectors per cluster)
SEM_TAU = 0.35      # cosine floor tuned to this synthetic corpus
SEM_QSCALE = 10_000  # 1e-4 integer grid (same recipe as q_kmeans_lloyd)

SEM_K_SQL = (
    f"least({SEM_K_MAX}, greatest({SEM_K_MIN}, "
    f"(count(*) + {SEM_TARGET - 1}) // {SEM_TARGET}))"
)

_SEM_PTS = f"""
  SELECT vec_id, CAST(r.i AS INTEGER) AS dim,
         CAST(round(CAST(embedding[r.i] AS DOUBLE) * {SEM_QSCALE}, 0) AS BIGINT) AS x
  FROM embeddings CROSS JOIN range(1, 65) r(i)
"""


@query(
    "q_dedup_semantic",
    f"""
    WITH pts AS ({_SEM_PTS}),
    kq AS (SELECT {SEM_K_SQL} AS k FROM embeddings),
    seeds AS (
      SELECT vec_id, CAST(rn - 1 AS INTEGER) AS cid
      FROM (SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn
            FROM (SELECT DISTINCT vec_id FROM pts))
      WHERE rn <= (SELECT k FROM kq)
    ),
    cent AS (
      SELECT s.cid, p.dim, p.x AS sx FROM seeds s JOIN pts p ON p.vec_id = s.vec_id
    ),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT p.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY p.vec_id
                 ORDER BY sum((p.x - c.sx) * (p.x - c.sx)), c.cid) AS rk
        FROM pts p JOIN cent c ON c.dim = p.dim
        GROUP BY p.vec_id, c.cid
      ) WHERE rk = 1
    ),
    n2 AS (
      SELECT vec_id, CAST(sum(x * x) AS BIGINT) AS n2 FROM pts GROUP BY vec_id
    ),
    xx AS (
      SELECT p.vec_id, a.cid, p.dim, p.x FROM pts p JOIN assign a ON a.vec_id = p.vec_id
    ),
    dots AS (
      SELECT a.vec_id AS va, b.vec_id AS vb, a.cid,
             CAST(sum(a.x * b.x) AS BIGINT) AS dot
      FROM xx a JOIN xx b
        ON a.cid = b.cid AND a.dim = b.dim AND a.vec_id < b.vec_id
      GROUP BY a.vec_id, b.vec_id, a.cid
    )
    SELECT DISTINCT d.vb AS vec_id, d.cid
    FROM dots d
    JOIN n2 na ON na.vec_id = d.va
    JOIN n2 nb ON nb.vec_id = d.vb
    WHERE CAST(d.dot AS DOUBLE)
            / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
          >= {SEM_TAU}
    """,
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): partition the
    embedding corpus into clusters, then dedup ONLY within a cluster —
    the clustering bounds the pairwise work so the corpus-level O(n^2)
    never materializes. Output: the dropped vec_ids with their cluster
    (greedy keep-lowest-id rule: j is dropped iff some kept/earlier
    i < j in the same cluster has cosine >= tau).

    Exactness: vectors quantize to the 1e-4 integer grid once;
    cluster assignment is argmin of exact integer squared distance to
    the k seed vectors (k lowest vec_ids — deterministic, no sampled
    init; ties break on cid); cosines divide an exact BIGINT dot by
    exact-derived norms in one double expression, so both engines
    compare identical doubles against tau. k itself is exact integer
    arithmetic ((n + t - 1) DIV t, positive-only truncation) so both
    engines pick the identical seed prefix.

    Scale shape: k = clamp(ceil(n / SEM_TARGET), SEM_K_MIN, SEM_K_MAX)
    is computed from the corpus count (round 7 — previously a frozen
    constant with the rule in a comment), so the expected cluster size
    stays ~SEM_TARGET vectors at any corpus size with no hand-edited
    config; the oracle mirrors the clamp as a scalar subquery. The
    seed/centroid table (k x 64 quantized ints, constant-bounded by
    SEM_K_MAX ~ 1 MB) ships to executors in a mapInPandas closure —
    the MLlib KMeans broadcast-centers pattern — so assignment is a
    per-batch NumPy matmul: no shuffle, no n*k*d intermediate rows
    (the long-format join it replaces went quadratic once k scaled
    with n; see sem_dedup_frame). The within-cluster pairwise then
    runs as ONE applyInPandas per cluster: each cluster ships as a
    single Arrow batch and the cosine matrix is a NumPy GEMM over
    exact integer floats (products <= 1e8, 64-term sums <= 6.4e9 —
    every partial is < 2^53, so the matmul is exact in any summation
    order)."""
    return sem_dedup_frame(spark, sf_dir)


def sem_dedup_frame(
    spark: SparkSession, sf_dir: str, k_frozen: int | None = None
) -> DataFrame:
    """Body of q_dedup_semantic with a pluggable cluster count.

    The registered key (k_frozen=None) computes k from the corpus size
    (the same clamp the oracle's scalar subquery evaluates); an
    explicit k_frozen pins the pre-r7 constant — kept only so the
    scale probe can run the adaptive-vs-frozen A/B.

    Assignment is GEMM-shaped (round 7): the k seed centroids — at
    most SEM_K_MAX x 64 quantized ints, a constant-bounded
    control-plane table — are collected once and shipped to every
    executor inside a mapInPandas closure (the MLlib KMeans
    broadcast-centers pattern), so nearest-centroid assignment is a
    per-batch NumPy matmul with NO shuffle and NO n*k*d intermediate
    rows. The pre-r7 long-format join (pts x centroids on dim) built
    n*k*64 rows through a keyed agg — linear while k was frozen, but
    O(n^2 * d / target) once k scales with n: the 10x probe measured
    it at ~100x assignment work. The matmul does the same FLOPs at
    ~1e9/s-per-core vectorized, and every distance is exact integer
    arithmetic (see q_dedup_semantic's exactness note)."""
    import numpy as np
    import pandas as pd

    emb = t(spark, sf_dir, "embeddings")

    def quantize(v: np.ndarray) -> np.ndarray:
        vq = v.astype(np.float64) * SEM_QSCALE
        return np.floor(np.abs(vq) + 0.5) * np.sign(vq)  # half-away, like SQL round

    if k_frozen is not None:
        k = int(k_frozen)
    else:
        n = emb.count()
        k = min(SEM_K_MAX, max(SEM_K_MIN, (n + SEM_TARGET - 1) // SEM_TARGET))

    # Control-plane collect: k <= SEM_K_MAX rows of 64 floats (~1 MB at
    # the bound) — the seed table, NOT the corpus. cid = rank of vec_id
    # among the k lowest, matching the oracle's row_number() - 1.
    seed_rows = (
        emb.select("vec_id", "embedding").orderBy("vec_id").limit(k).collect()
    )
    cent = quantize(np.array([r["embedding"] for r in seed_rows]))  # [k, 64]
    cent_n2 = (cent * cent).sum(axis=1)  # exact ints < 2^53

    def assign_batches(batches):
        for pdf in batches:
            q = quantize(np.vstack(pdf["embedding"].to_numpy()))  # [b, 64]
            # d2 expanded: ||q||^2 - 2 q.C^T + ||C||^2 — every term an
            # exact integer in float64 (products <= 1e8, 64-term sums
            # <= 6.4e9, combination < 2^40), so argmin is exact and
            # ties on equal d2 break to the LOWEST cid (np.argmin picks
            # the first minimum), matching the oracle's ORDER BY d2, cid.
            d2 = (
                (q * q).sum(axis=1)[:, None]
                - 2.0 * (q @ cent.T)
                + cent_n2[None, :]
            )
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].astype("int64"),
                    "cid": d2.argmin(axis=1).astype("int32"),
                }
            )

    assign = emb.select("vec_id", "embedding").mapInPandas(
        assign_batches, "vec_id long, cid int"
    )

    def dedup_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        v = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
        vq = v * SEM_QSCALE
        q = np.floor(np.abs(vq) + 0.5) * np.sign(vq)  # half-away, like SQL round
        nrm = np.sqrt((q * q).sum(axis=1))
        c = (q @ q.T) / np.outer(nrm, nrm)
        dropped = (np.tril(c, -1) >= SEM_TAU).any(axis=1)
        out = pdf.loc[dropped, ["vec_id", "cid"]]
        return out

    clustered = emb.select("vec_id", "embedding").join(assign, "vec_id")
    return clustered.groupBy("cid").applyInPandas(
        dedup_cluster, "vec_id long, cid int"
    )


CONT_SHINGLE = 5  # tokens per shingle
CONT_NUM, CONT_DEN = 4, 5  # containment threshold 4/5 = 0.8 (exact integer test)


@query(
    "q_text_containment",
    f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             list_aggregate(t[i:i+{CONT_SHINGLE - 1}], 'string_agg', ' ') AS s
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - {CONT_SHINGLE - 1})) AS i)
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT inter.doc_a, inter.doc_b,
           CAST(inter.i AS BIGINT) AS n_shared,
           CAST(sz.n AS BIGINT) AS n_a,
           round(inter.i / CAST(sz.n AS DOUBLE), 4) AS containment
    FROM inter JOIN sz ON sz.doc_id = inter.doc_a
    WHERE {CONT_DEN} * inter.i >= {CONT_NUM} * sz.n
    """,
)
def q_text_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle CONTAINMENT dedup (Broder's asymmetric companion to
    Jaccard): |shingles(A) ∩ shingles(B)| / |shingles(A)| >= 0.8 flags
    A as mostly contained in B — the quote-inclusion / page-wrapping
    duplicates symmetric Jaccard (q_dedup_ngram_jaccard) structurally
    misses when B is much longer than A. Ordered pairs, so a doc
    swallowed by a bigger one is flagged in that direction only.

    Scale shape: candidate generation is a self-join KEYED ON THE
    SHINGLE (posting-list join), never doc x doc; the threshold is an
    exact integer cross-multiplication (5i >= 4n, no float compare at
    the boundary). Fixture shingle doc-frequency tops out at 5, so
    postings stay tiny; an adversarial corpus would cap shingle df
    (drop non-discriminative postings) exactly like the LSH keys cap
    band width."""
    # r12 rewrite, two independent fixes (guide §1.2 step 1 + §2.4):
    # (1) the old transform lambda captured the RAW split(text)
    # expression — interpreted HOFs re-evaluate captured subexpressions
    # PER ARRAY ELEMENT, so every row re-split its full text ~n_tokens
    # times; the token array is now staged as a column first.
    # (2) the shingle relation was referenced three times (both join
    # sides + the per-doc size), so Catalyst re-derived the whole
    # scan→shingle→distinct subtree three times. The self-join keyed on
    # the shingle IS a posting-list join, so build the posting list
    # explicitly instead: per-doc size via a window on the single
    # shingle relation, group by shingle, explode ordered pairs. One
    # corpus scan; pair counts (shared DISTINCT shingles) are
    # identical, so the result hashes the same.
    sh = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.split(F.col("text"), " ").alias("tk"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(tk) - {CONT_SHINGLE}),"
                    f" i -> array_join(slice(tk, i + 1, {CONT_SHINGLE}), ' '))"
                )
            ).alias("s"),
        )
        .distinct()
    )
    shn = sh.withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    )
    posts = shn.groupBy("s").agg(
        F.collect_list(F.struct("doc_id", "n")).alias("ds")
    )
    pairs = (
        posts.select(F.explode("ds").alias("a"), "ds")
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.n").alias("n_a"),
            F.explode("ds").alias("b"),
        )
        .filter(F.col("b.doc_id") != F.col("doc_a"))
        .select("doc_a", F.col("b.doc_id").alias("doc_b"), "n_a")
    )
    inter = pairs.groupBy("doc_a", "doc_b", "n_a").agg(
        F.count(F.lit(1)).alias("i")
    )
    return inter.filter(CONT_DEN * F.col("i") >= CONT_NUM * F.col("n_a")).select(
        "doc_a",
        "doc_b",
        F.col("i").alias("n_shared"),
        F.col("n_a").alias("n_a"),
        r4(F.col("i") / F.col("n_a").cast("double")).alias("containment"),
    )


# --- word-order-insensitive exact dedup (round 7) -----------------------


@query(
    "q_dedup_bag_of_words",
    """
    WITH d AS (
      SELECT doc_id, source,
             md5(text) AS digest,
             md5(array_to_string(list_sort(string_split(text, ' ')), ' '))
               AS bag_sig
      FROM documents
    )
    SELECT bag_sig,
           CAST(min(doc_id) AS BIGINT) AS kept_doc_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT digest) AS BIGINT) AS n_exact_variants,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           count(DISTINCT digest) > 1 AS has_reordered
    FROM d
    GROUP BY bag_sig
    """,
)
def q_dedup_bag_of_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-order-insensitive exact dedup: documents collide when their
    token MULTISETS match (signature = md5 of the sorted token list),
    which catches shuffled/reordered copies that byte-exact dedup
    misses — the cheap middle rung between q_dedup_exact and the
    MinHash near-dup tier (a reordered copy has Jaccard 1.0 but a
    different text digest). Groups report the canonical keeper, copy
    and source counts, and whether any member is a REORDERING (more
    than one exact digest inside one bag group).

    Exactness: both signatures are md5 over identical strings —
    list_sort/array_sort agree on ASCII byte order — and every output
    is a count or min, so the hash check is exact.

    Scale shape: the signature is a narrow per-row map (sort is
    per-document, bounded by document length); then ONE hash aggregate
    keyed on the 128-bit signature — identical cost to exact dedup,
    no pairwise anything. Output is the full group census (one row per
    distinct bag, keeper + flags) so the driver check is non-trivial
    even on fixture slices without dups; the dups-only view is a
    `n_docs > 1` filter."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5(F.col("text").cast("binary")).alias("digest"),
        F.md5(
            F.array_join(F.array_sort(F.split("text", " ")), " ").cast("binary")
        ).alias("bag_sig"),
    )
    return d.groupBy("bag_sig").agg(
        F.min("doc_id").cast("long").alias("kept_doc_id"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("digest").cast("long").alias("n_exact_variants"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        (F.countDistinct("digest") > 1).alias("has_reordered"),
    )


# Boilerplate-prefix dedup: web crawls carry shared headers/intros, so
# a duplicated FIRST-k-token prefix flags template families that exact
# and bag dedup both miss (the bodies differ). 8 tokens matches the
# line-dedup chunk unit.
PREFIX_TOKENS = 8


_PREFIX_ORACLE = f"""
    WITH p AS (
      SELECT doc_id, source,
             md5(array_to_string(
                   string_split(text, ' ')[1:{PREFIX_TOKENS}], ' ')) AS psig,
             length(text) AS nc
      FROM documents
    )
    SELECT psig,
           CAST(min(doc_id) AS BIGINT) AS kept_doc_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(sum(nc) AS BIGINT) AS total_chars
    FROM p
    GROUP BY psig
    HAVING count(*) >= 2
"""


@query("q_dedup_prefix", _PREFIX_ORACLE)
def q_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-prefix census — the crawl-boilerplate detector:
    group documents by the md5 of their first {PREFIX_TOKENS}
    whitespace tokens and report every group that repeats (kept
    canonical = min doc_id, member count, distinct sources, total
    chars). Complements the dedup ladder: exact (whole-text digest),
    bag (order-insensitive), line (cross-doc chunk removal), MinHash
    (near-dup) — prefix duplication catches template families whose
    INTROS repeat while bodies diverge, invisible to all four.

    Determinism: the prefix is a pure string function of the text
    (slice semantics verified identical: Spark slice(a,1,k) = DuckDB
    a[1:k], both returning the whole list when shorter), md5 is
    byte-identical, and the census aggregates are exact integers.

    Scale shape: narrow map to (psig, nc) then ONE md5-keyed hash
    aggregate with map-side combine + HAVING — the q_dedup_exact plan
    on a different key; no joins, no windows, linear at any corpus
    size."""
    p = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5(
            F.array_join(
                F.slice(F.split("text", " "), 1, PREFIX_TOKENS), " "
            ).cast("binary")
        ).alias("psig"),
        F.length("text").alias("nc"),
    )
    return (
        p.groupBy("psig")
        .agg(
            F.min("doc_id").cast("long").alias("kept_doc_id"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.sum("nc").cast("long").alias("total_chars"),
        )
        .where(F.col("n_docs") >= 2)
    )


# Boilerplate-suffix dedup: the footer twin of q_dedup_prefix — crawl
# templates repeat SIGNATURES/footers as often as intros, and a
# duplicated LAST-k-token suffix catches template families whose
# bodies AND intros differ. Same census contract as the prefix key.
SUFFIX_TOKENS = 8


_SUFFIX_ORACLE = f"""
    WITH p AS (
      SELECT doc_id, source,
             md5(array_to_string(
                   string_split(text, ' ')[greatest(
                     len(string_split(text, ' ')) - {SUFFIX_TOKENS - 1}, 1
                   ):len(string_split(text, ' '))], ' ')) AS ssig,
             length(text) AS nc
      FROM documents
    )
    SELECT ssig,
           CAST(min(doc_id) AS BIGINT) AS kept_doc_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(sum(nc) AS BIGINT) AS total_chars
    FROM p
    GROUP BY ssig
    HAVING count(*) >= 2
"""


@query("q_dedup_suffix", _SUFFIX_ORACLE)
def q_dedup_suffix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-suffix census — the FOOTER boilerplate detector,
    completing q_dedup_prefix's intro detector: group documents by the
    md5 of their last {SUFFIX_TOKENS} whitespace tokens and report
    every group that repeats (kept canonical = min doc_id, member
    count, distinct sources, total chars). Web templates repeat
    signatures, nav footers, and license blurbs at the END of pages as
    often as headers at the start; a family whose intros and bodies
    both diverge still collides here.

    Determinism: the suffix window is exact integer arithmetic on the
    token count (start = max(len - {SUFFIX_TOKENS} + 1, 1), whole list
    when shorter — verified identical: Spark slice(a, greatest(...), k)
    clamps length exactly like DuckDB's a[greatest(...):len(a)]), md5
    is byte-identical, and the census aggregates are exact integers.

    Scale shape: identical to q_dedup_prefix — narrow map to
    (ssig, nc), ONE md5-keyed hash aggregate with map-side combine +
    HAVING; no joins, no windows, linear at any corpus size."""
    toks = F.split("text", " ")
    start = F.greatest(F.size(toks) - (SUFFIX_TOKENS - 1), F.lit(1))
    p = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5(
            F.array_join(F.slice(toks, start, SUFFIX_TOKENS), " ").cast("binary")
        ).alias("ssig"),
        F.length("text").alias("nc"),
    )
    return (
        p.groupBy("ssig")
        .agg(
            F.min("doc_id").cast("long").alias("kept_doc_id"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.sum("nc").cast("long").alias("total_chars"),
        )
        .where(F.col("n_docs") >= 2)
    )


# --- ExactSubstr cross-document substring dedup (round 12) ------------------

EXSUB_W = 50  # Lee et al. 2022's duplicated-span token threshold

_EXSUB_GV_DUCK = hex12_sql(
    f"md5(array_to_string(tk[i:i+{EXSUB_W}-1], ' '))"
)

_EXSUB_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents
    ),
    grams AS (
      SELECT doc_id, source, i AS pos, {_EXSUB_GV_DUCK} AS gv
      FROM toks, unnest(generate_series(1, len(tk) - {EXSUB_W} + 1)) AS u(i)
      WHERE len(tk) >= {EXSUB_W}
    ),
    dup AS (SELECT gv FROM grams GROUP BY gv HAVING count(*) >= 2),
    m AS (SELECT g.doc_id, g.source, g.pos FROM grams g JOIN dup USING (gv)),
    cov AS (
      SELECT doc_id, source, pos,
             lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM m
    ),
    per_doc AS (
      SELECT doc_id, source,
             CAST(sum(CASE WHEN prev IS NULL THEN {EXSUB_W}
                           ELSE least({EXSUB_W}, pos - prev) END) AS BIGINT)
               AS cover
      FROM cov GROUP BY doc_id, source
    ),
    tot AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(tk)) AS BIGINT) AS total_tokens
      FROM toks GROUP BY source
    ),
    hit AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs_hit,
             CAST(sum(cover) AS BIGINT) AS dup_token_cover
      FROM per_doc GROUP BY source
    )
    SELECT tot.source, tot.n_docs,
           CAST(coalesce(hit.n_docs_hit, 0) AS BIGINT) AS n_docs_hit,
           tot.total_tokens,
           CAST(coalesce(hit.dup_token_cover, 0) AS BIGINT) AS dup_token_cover,
           CAST(coalesce(hit.dup_token_cover, 0) * 1000000
                // nullif(tot.total_tokens, 0) AS BIGINT) AS cover_ppm
    FROM tot LEFT JOIN hit ON hit.source = tot.source
"""


@query("q_dedup_exact_substr", _EXSUB_ORACLE)
def q_dedup_exact_substr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr duplicated-span census (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", §4.1's
    second half — the suffix-array pass, which q_text_line_dedup's
    line-chunk census does NOT cover: arbitrary-offset duplicated
    spans, VERDICT r11 #8's named gap): per source, how many tokens sit
    inside a duplicated run of >= {EXSUB_W} tokens appearing more than
    once in the corpus (any offset, any document, including intra-doc
    repeats — the paper's criterion).

    Equivalence, exactly: a duplicated substring of length >= W exists
    at a position iff some sliding W-token window covering that
    position is duplicated — so marking every token covered by a
    duplicated W-gram reproduces the suffix-array union EXACTLY at the
    fixed threshold W (the suffix array generalizes to all lengths at
    once; the census fixes length = the paper's 50-token threshold).
    Coverage per doc is the interval union of the [pos, pos+W) marks,
    computed order-free as W for the first sorted start plus
    min(W, gap) per successive start — equal-length intervals only ever
    overlap their immediate predecessor.

    Exactness: gram identity is the portable 48-bit md5 key
    (dedup.hex12_sql — a collision merging two distinct grams is
    ~2^-48 per pair and identical on both engines); counts and the
    interval union are exact BIGINT; ppm is one exact floor.

    Scale shape (100 TB): tokenize + slide is a narrow map (W-gram
    rows ~ token count; each row is an 8-byte key + position, NOT the
    gram text); duplicated-gram membership is COUNT(*) OVER
    (PARTITION BY gv) on that ONE gram relation — a single gv-keyed
    exchange, one gram derivation at any scale, no join-back and no
    broadcast (the dup set is corpus-scale in the worst case); the
    interval union is a per-doc window (partitioned, no global sort);
    the census collapse is a bounded per-source agg. This is the
    minhash shuffle discipline with positions in place of signatures —
    no suffix array, no driver state, no all-pairs."""
    toks = t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split(F.col("text"), " ").alias("tk")
    )
    gv_expr = (
        f"transform(sequence(1, size(tk) - {EXSUB_W} + 1), "
        f"i -> cast(conv(substring(md5(concat_ws(' ', slice(tk, i, {EXSUB_W}))), 1, 12), 16, 10) as bigint))"
    )
    grams = (
        toks.filter(F.size("tk") >= EXSUB_W)
        .select("doc_id", "source", F.posexplode(F.expr(gv_expr)).alias("p0", "gv"))
        .select("doc_id", "source", (F.col("p0") + 1).alias("pos"), "gv")
    )
    # Duplicated-gram membership as COUNT(*) OVER (PARTITION BY gv) on
    # the ONE gram relation (r12, guide §2.4): the groupBy+join-back form
    # made Catalyst derive the scan->tokenize->md5-per-position Generate
    # subtree TWICE (the dominant compute), and the planner broadcast the
    # dup set — corpus-scale in the worst case, exactly what the scale
    # docstring forbids. The window keys the same gv exchange the join
    # needed anyway and keeps gram generation single-pass at any scale.
    wg = Window.partitionBy("gv")
    m = (
        grams.withColumn("c", F.count(F.lit(1)).over(wg))
        .filter(F.col("c") >= 2)
        .select("doc_id", "source", "pos")
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    cov = m.withColumn("prev", F.lag("pos").over(wd))
    per_doc = cov.groupBy("doc_id", "source").agg(
        F.sum(
            F.when(F.col("prev").isNull(), F.lit(EXSUB_W)).otherwise(
                F.least(F.lit(EXSUB_W), F.col("pos") - F.col("prev"))
            )
        )
        .cast("long")
        .alias("cover")
    )
    tot = toks.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size("tk")).cast("long").alias("total_tokens"),
    )
    hit = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_hit"),
        F.sum("cover").cast("long").alias("dup_token_cover"),
    )
    return tot.join(hit, "source", "left").select(
        "source",
        "n_docs",
        F.coalesce("n_docs_hit", F.lit(0)).cast("long").alias("n_docs_hit"),
        "total_tokens",
        F.coalesce("dup_token_cover", F.lit(0)).cast("long").alias("dup_token_cover"),
        F.expr(
            "CAST(coalesce(dup_token_cover, 0) * 1000000"
            " DIV nullif(total_tokens, 0) AS BIGINT)"
        ).alias("cover_ppm"),
    )
