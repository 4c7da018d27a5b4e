"""Training-data pipeline operators (round-1 addendum, SURVEY.md §2.C):
deterministic corpus splits, stratified sampling, column profiling,
dedup cluster formation, and partition-pruned sinks.

These are the ops a 100 TB pretraining pipeline runs AFTER the
detectors in dedup.py / dedup_extra.py: turn pair lists into clusters
and keep/drop decisions, carve reproducible train/val/test splits,
rebalance languages, and profile data quality — each expressed so the
work is one or two keyed shuffles, never a driver-side pass.

Portability: all randomness is the portable md5-derived hash
(dedup.hex12_sql) over the doc_id string, so Spark and DuckDB assign
every row to the same bucket and the "random" split/sample is
bit-reproducible across engines, runs, and cluster sizes — exactly the
property a training pipeline needs for held-out contamination control.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jsmr_spark.compat import cents, r4, sql_cents
from jsmr_spark.queries.common import collected, scratch_dir, t
from jsmr_spark.queries.dedup import hex12_sql
from jsmr_spark.queries.dedup_extra import EMB_COS_MIN
from jsmr_spark.registry import query

# Split fractions (percent of the 0..99 hash space).
TRAIN_PCT = 80
VAL_PCT = 10  # buckets [80, 90); test gets the rest

# Stratified sampling: downsample the dominant language hard, keep the
# tail at a higher rate (the usual rebalancing move).
MAJOR_LANG = "en"
MAJOR_PCT = 5
MINOR_PCT = 25


def _bucket_sql(id_cast: str) -> str:
    """0..99 bucket from the portable hash of the id's decimal string."""
    return f"({hex12_sql(f'md5({id_cast})')} % 100)"


# Spark spells the cast `string`, DuckDB spells it `varchar`; the
# decimal text and the md5 of it are identical.
_BUCKET_SPARK = _bucket_sql("cast(doc_id as string)")
_BUCKET_DUCK = _bucket_sql("CAST(doc_id AS VARCHAR)")


@query(
    "q_split_train",
    f"""
    WITH b AS (
      SELECT doc_id, lang, text, {_BUCKET_DUCK} AS bucket FROM documents
    ),
    s AS (
      SELECT CASE WHEN bucket < {TRAIN_PCT} THEN 'train'
                  WHEN bucket < {TRAIN_PCT + VAL_PCT} THEN 'val'
                  ELSE 'test' END AS split,
             lang, len(string_split(text, ' ')) AS n_tokens
      FROM b
    )
    SELECT split, count(*) AS n_docs,
           count(DISTINCT lang) AS n_langs,
           round(avg(CAST(n_tokens AS DOUBLE)), 4) AS avg_tokens
    FROM s GROUP BY split
    """,
)
def q_split_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by portable hash of
    doc_id — reproducible across engines, runs, and cluster sizes (no
    `rand()`: a reshuffled or rescaled rerun must not move documents
    across the contamination boundary). Pure narrow map + one hash-agg."""
    b = t(spark, sf_dir, "documents").select(
        "lang",
        F.expr(_BUCKET_SPARK).alias("bucket"),
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    s = b.select(
        F.when(F.col("bucket") < TRAIN_PCT, "train")
        .when(F.col("bucket") < TRAIN_PCT + VAL_PCT, "val")
        .otherwise("test")
        .alias("split"),
        "lang",
        "n_tokens",
    )
    return s.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.round(F.avg(F.col("n_tokens").cast("double")), 4).alias("avg_tokens"),
    )


@query(
    "q_sample_stratified",
    f"""
    WITH b AS (
      SELECT lang, {_BUCKET_DUCK} AS bucket,
             CASE WHEN lang = '{MAJOR_LANG}' THEN {MAJOR_PCT} ELSE {MINOR_PCT} END AS pct
      FROM documents
    )
    SELECT lang,
           count(*) AS n_total,
           CAST(sum(CASE WHEN bucket < pct THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           round(CAST(sum(CASE WHEN bucket < pct THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 4) AS sample_rate
    FROM b GROUP BY lang
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: per-language keep rates
    (downsample the dominant language, keep the tail) via the same
    portable hash bucket as q_split_train. One narrow map + hash-agg;
    at 100 TB the sample materializes with a `bucket < pct` filter that
    is pushed into the scan when the bucket is a persisted column."""
    b = t(spark, sf_dir, "documents").select(
        "lang",
        F.expr(_BUCKET_SPARK).alias("bucket"),
        F.when(F.col("lang") == MAJOR_LANG, MAJOR_PCT).otherwise(MINOR_PCT).alias("pct"),
    )
    sampled = F.sum(F.when(F.col("bucket") < F.col("pct"), 1).otherwise(0))
    return b.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        sampled.alias("n_sampled"),
        F.round(sampled.cast("double") / F.count(F.lit(1)), 4).alias("sample_rate"),
    )


# --- column profiling --------------------------------------------------

# (name, spark min/max text form, duckdb min/max text form). Doubles are
# deliberately absent: double->string rendering differs across engines;
# a real profiler reports numerics in typed columns instead.
_PROFILE_COLS = [
    ("o_orderkey", "cast({m} as string)", "CAST({m} AS VARCHAR)"),
    ("o_custkey", "cast({m} as string)", "CAST({m} AS VARCHAR)"),
    ("o_orderstatus", "{m}", "{m}"),
    ("o_orderpriority", "{m}", "{m}"),
    ("o_orderdate", "date_format({m}, 'yyyy-MM-dd HH:mm:ss')", "strftime({m}, '%Y-%m-%d %H:%M:%S')"),
    # Manufactured-null variant: profiling must count nulls, fixtures
    # are null-free, so nullif() one value away.
    ("o_orderpriority_nullable", "{m}", "{m}"),
]

_DUCK_PROFILE_SELECTS = "\n    UNION ALL\n    ".join(
    f"""SELECT '{name}' AS col_name, count(*) AS n_rows,
           count(*) - count({expr}) AS n_nulls,
           count(DISTINCT {expr}) AS n_distinct,
           {fmt.format(m=f'min({expr})')} AS min_val,
           {fmt.format(m=f'max({expr})')} AS max_val
    FROM src"""
    for (name, _, fmt), expr in (
        ((c, s, d), ("nullif(o_orderpriority, '1-URGENT')" if c == "o_orderpriority_nullable" else c))
        for c, s, d in _PROFILE_COLS
    )
)


@query(
    "q_profile_columns",
    f"""
    WITH src AS (SELECT * FROM orders)
    {_DUCK_PROFILE_SELECTS}
    """,
)
def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data-quality profile of `orders` (row/null/distinct
    counts, min/max as text) computed in ONE pass: a single aggregate
    produces every metric, then an explode unpivots to one row per
    column — never one scan per column. At 100 TB swap the exact
    count(DISTINCT) Expand for approx_count_distinct (same plan shape,
    no Expand multiplier)."""
    orders = t(spark, sf_dir, "orders").withColumn(
        "o_orderpriority_nullable", F.expr("nullif(o_orderpriority, '1-URGENT')")
    )
    # Two aggregates crossJoined (both 1-row), NOT one: mixing 6
    # count(DISTINCT)s with plain aggs in a single Aggregate makes the
    # Expand replicate every min/max string column 7x (measured 2.7s vs
    # 1.6s at sf0.1). Split, the Expand carries only the 6 profiled
    # columns and the min/max agg stays in whole-stage codegen.
    mm_aggs = [F.count(F.lit(1)).alias("n_rows")]
    cd_aggs = []
    for name, fmt, _ in _PROFILE_COLS:
        mm_aggs += [
            F.count(F.col(name)).alias(f"{name}__nn"),
            F.expr(fmt.format(m=f"min({name})")).alias(f"{name}__min"),
            F.expr(fmt.format(m=f"max({name})")).alias(f"{name}__max"),
        ]
        cd_aggs.append(F.countDistinct(F.col(name)).alias(f"{name}__nd"))
    one = orders.agg(*mm_aggs).crossJoin(orders.agg(*cd_aggs))
    structs = [
        F.struct(
            F.lit(name).alias("col_name"),
            F.col("n_rows").alias("n_rows"),
            (F.col("n_rows") - F.col(f"{name}__nn")).alias("n_nulls"),
            F.col(f"{name}__nd").alias("n_distinct"),
            F.col(f"{name}__min").alias("min_val"),
            F.col(f"{name}__max").alias("max_val"),
        )
        for name, _, _ in _PROFILE_COLS
    ]
    return one.select(F.explode(F.array(*structs)).alias("p")).select("p.*")


# --- dedup cluster formation ------------------------------------------


def connected_components(pairs: DataFrame) -> DataFrame:
    """Connected components over an undirected pair list (src, dst):
    returns (node, lbl) where lbl is the component's min node id. Nodes
    with no edge are absent (they form singleton components trivially).

    Iterative min-label propagation: each round is ONE keyed shuffle
    (neighbor-min join + hash-agg), labels localCheckpoint'ed so the
    lineage stays flat; converges in <= graph-diameter rounds. The same
    driver-coordinated loop GraphX/GraphFrames runs — only the
    converged flag crosses to the driver, never data."""
    edges = pairs.select(F.col("src"), F.col("dst")).unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()

    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint()
    )

    while True:
        nbr = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        new_labels = (
            labels.join(nbr, labels["node"] == nbr["src"], "left")
            .select(
                "node",
                F.least(F.col("lbl"), F.coalesce(F.col("nbr_lbl"), F.col("lbl"))).alias(
                    "new_lbl"
                ),
                F.col("lbl").alias("old_lbl"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter(F.col("new_lbl") != F.col("old_lbl")).count()
        labels = new_labels.select("node", F.col("new_lbl").alias("lbl"))
        if changed == 0:
            return labels

_CLUSTER_PAIRS_CTE = f"""
    normed AS (
      SELECT vec_id, embedding,
             sqrt(list_aggregate(list_transform(embedding, (x, i) ->
                  CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm
      FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
      FROM normed a JOIN normed b ON a.vec_id < b.vec_id
      WHERE round(list_aggregate(list_transform(a.embedding, (x, i) ->
                CAST(x AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), 'sum')
            / (a.nrm * b.nrm), 4) >= {EMB_COS_MIN}
    )
"""


@query(
    "q_dedup_clusters",
    f"""
    WITH RECURSIVE {_CLUSTER_PAIRS_CTE},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, r) AS (
      SELECT src, src FROM edges GROUP BY src
      UNION
      SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.node
    ),
    lbl AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node),
    sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lbl GROUP BY cluster_id)
    SELECT l.doc_id, l.cluster_id, s.cluster_size,
           l.doc_id = l.cluster_id AS keep
    FROM lbl l JOIN sz s ON s.cluster_id = l.cluster_id
    """,
    eval_tier=True,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVAL TIER — exact all-pairs baseline, O(N²) by design (10x probe
    ×9.3): run it on CI-sized samples to calibrate the production key.
    The scalable PRIMARY is q_dedup_clusters_lsh (pipeline.py, below),
    which builds the same components from hyperplane-LSH candidate
    edges with corpus-adaptive planes (probe ×1.6) — use that at 100 TB.

    Near-dup CLUSTER formation: connected components over the
    embedding-cosine pair graph (edges = q_dedup_embedding's pairs),
    canonical doc per component = min doc_id, keep-decision emitted per
    doc. This is the step that turns pairwise detectors into an actual
    dedup: A~B and B~C must collapse to ONE kept document even though
    (A,C) was never a candidate pair.

    Engine: iterative min-label propagation — each round one keyed
    shuffle (join labels to neighbors, groupBy min), labels
    localCheckpoint'ed to keep lineage flat, loop until a fixpoint
    (rounds <= graph diameter; near-dup graphs are shallow). The same
    driver-coordinated loop GraphX/GraphFrames uses; no driver-side
    data, only the converged flag. Oracle: DuckDB recursive CTE
    computing the transitive closure (fine at sf0.01; the closure is
    the oracle's cost, not the engine's)."""
    from jsmr_spark.vectorized import block_cosine_pairs

    emb = t(spark, sf_dir, "embeddings")
    pairs = block_cosine_pairs(emb, EMB_COS_MIN).select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
    )
    labels = connected_components(pairs)
    lbl = labels.select(F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id"))
    sz = lbl.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        lbl.join(sz, "cluster_id")
        .withColumn("keep", F.col("doc_id") == F.col("cluster_id"))
        .select("doc_id", "cluster_id", "cluster_size", "keep")
    )


@query(
    "sink_partitioned",
    """
    SELECT count(*) AS n_en_written,
           count(*) AS n_en_reread,
           true AS roundtrip_ok,
           true AS partition_pruned
    FROM documents WHERE lang = 'en'
    """,
)
def sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink + partition-pruned re-read: write
    documents partitionBy(lang), read back with a lang filter, and
    assert the filter became a PartitionFilter (directory pruning — at
    100 TB the difference between scanning one language and scanning
    the corpus). Value-checked: the oracle pins the expected counts and
    TRUE for both proofs, so a lost row or an un-pruned scan fails the
    hash."""
    docs = t(spark, sf_dir, "documents")
    n_en_written = docs.filter(F.col("lang") == "en").count()
    with scratch_dir("sink_partitioned") as out_dir:
        docs.write.mode("overwrite").partitionBy("lang").parquet(out_dir)

        back = spark.read.parquet(out_dir).filter(F.col("lang") == "en")
        n_en_reread = back.count()
        plan = back._jdf.queryExecution().executedPlan().toString()
        pruned = "PartitionFilters: [" in plan and "lang" in plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    return spark.createDataFrame(
        [(n_en_written, n_en_reread, n_en_written == n_en_reread, bool(pruned))],
        "n_en_written long, n_en_reread long, roundtrip_ok boolean, partition_pruned boolean",
    )


# --- token-budget packing & balanced sharding -------------------------

PACK_BUDGET = 512  # tokens per pretraining chunk
N_SHARDS = 16


@query(
    "q_pack_tokens",
    f"""
    WITH toks AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    cum AS (
      SELECT doc_id, lang, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS BIGINT) AS start_off
      FROM toks
    )
    SELECT doc_id, lang, n_tokens, start_off,
           CAST(start_off // {PACK_BUDGET} AS BIGINT) AS pack_bin
    FROM cum
    """,
)
def q_pack_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget packing: assign each document to the fixed-size
    pretraining chunk its cumulative token offset starts in.

    This is the offset-packing a concat-and-cut pretraining pipeline
    performs (documents are concatenated per language in deterministic
    doc_id order and sliced every PACK_BUDGET tokens); the bin id is a
    pure function of the running token count, so the layout is
    reproducible across engines and cluster sizes. One keyed window +
    narrow arithmetic — no shuffle beyond the per-lang sort.

    At 100 TB the per-lang window key is too hot (one reducer sees a
    whole language); production packs within (lang, shard) after
    sink_shards-style bucketing, which this operator composes with —
    same code, two partition keys. Greedy/best-fit packers that skip
    oversized docs are the applyInPandas escape hatch (udfs.py shows
    the grouped-map surface)."""
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    toks = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    return toks.select(
        "doc_id",
        "lang",
        "n_tokens",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start_off"),
    ).withColumn("pack_bin", F.expr(f"start_off DIV {PACK_BUDGET}"))


_SHARD_SPARK = f"({hex12_sql('md5(cast(doc_id as string))')} % {N_SHARDS})"
_SHARD_DUCK = f"({hex12_sql('md5(CAST(doc_id AS VARCHAR))')} % {N_SHARDS})"


@query(
    "sink_shards",
    f"""
    SELECT {_SHARD_DUCK} AS shard,
           count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
    FROM documents
    GROUP BY shard
    """,
)
def sink_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced shard write: portable-hash shard id, partitionBy(shard)
    parquet write, re-read and per-shard accounting — the output-layout
    step of a training-data pipeline (shard = the unit downstream
    loaders stream).

    The hash shard key balances by CONSTRUCTION (md5 uniformity), needs
    no global sort or size survey, and is reproducible across engines —
    the oracle recomputes the same shard ids directly from the source
    table, so the write+re-read round trip is value-checked, not just
    row-counted. At 100 TB this is the same one-pass narrow write;
    shard count scales with cluster size, not data (files per shard
    do)."""
    docs = t(spark, sf_dir, "documents").withColumn("shard", F.expr(_SHARD_SPARK))
    with scratch_dir("sink_shards") as out_dir:
        docs.write.mode("overwrite").partitionBy("shard").parquet(out_dir)
        back = spark.read.parquet(out_dir)
        out = (
            back.groupBy("shard")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.size(F.split("text", " ")).cast("long")).alias("n_tokens"),
            )
            .withColumn("shard", F.col("shard").cast("long"))
        )
        return collected(out, "shard long, n_docs long, n_tokens long")


def _clusters_lsh_oracle() -> str:
    from jsmr_spark.queries.ann import bucketed_embeddings_sql

    return f"""
    WITH RECURSIVE bucketed AS (
      {bucketed_embeddings_sql()}
    ),
    pairs AS (
      SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
      FROM bucketed a JOIN bucketed b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE round(list_aggregate(list_transform(a.embedding, (x, i) ->
                CAST(x AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), 'sum')
            / (a.nrm * b.nrm), 4) >= {EMB_COS_MIN}
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, r) AS (
      SELECT src, src FROM edges GROUP BY src
      UNION
      SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.node
    ),
    lbl AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node),
    sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lbl GROUP BY cluster_id)
    SELECT l.doc_id, l.cluster_id, s.cluster_size,
           l.doc_id = l.cluster_id AS keep
    FROM lbl l JOIN sz s ON s.cluster_id = l.cluster_id
    """


def clusters_lsh_frame(
    spark: SparkSession, sf_dir: str, plane_set: list[list[float]] | None = None
) -> DataFrame:
    """Body of q_dedup_clusters_lsh with a pluggable hyperplane set.

    Since round 6 the registered key (plane_set=None) is
    CORPUS-ADAPTIVE: planes = max(8, ceil(log2(n_docs))), computed as a
    1-row broadcast aggregate inside the DAG and mirrored exactly by
    the oracle's scalar subquery, so expected bucket size stays ~1 and
    candidate pairs ~linear in n with NO hand-edited config (the rule
    the r3-r5 probes demonstrated manually). An explicit plane_set
    still pins a fixed count (used by probes/controls)."""
    from jsmr_spark.queries.ann import _bucket_col, _bucket_col_adaptive, n_planes_col
    from jsmr_spark.queries.similarity import _dot, _norm

    src = t(spark, sf_dir, "embeddings")
    if plane_set is not None:
        emb = src.select(
            "vec_id",
            "embedding",
            _bucket_col(F.col("embedding"), plane_set).alias("bucket"),
            _norm(F.col("embedding")).alias("nrm"),
        )
    else:
        emb = src.crossJoin(F.broadcast(n_planes_col(src))).select(
            "vec_id",
            "embedding",
            _bucket_col_adaptive(F.col("embedding"), F.col("np")).alias("bucket"),
            _norm(F.col("embedding")).alias("nrm"),
        )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("bucket").alias("bucket_b"),
        F.col("nrm").alias("nrm_b"),
    )
    sim = F.round(_dot(F.col("embedding"), F.col("emb_b")) / (F.col("nrm") * F.col("nrm_b")), 4)
    pairs = (
        emb.join(b, (F.col("bucket") == F.col("bucket_b")) & (F.col("vec_id") < F.col("vec_b")))
        .withColumn("cos_sim", sim)
        .filter(F.col("cos_sim") >= EMB_COS_MIN)
        .select(F.col("vec_id").alias("src"), F.col("vec_b").alias("dst"))
    )
    labels = connected_components(pairs)
    lbl = labels.select(F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id"))
    sz = lbl.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        lbl.join(sz, "cluster_id")
        .withColumn("keep", F.col("doc_id") == F.col("cluster_id"))
        .select("doc_id", "cluster_id", "cluster_size", "keep")
    )


@query("q_dedup_clusters_lsh", _clusters_lsh_oracle())
def q_dedup_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path of q_dedup_clusters: edges from an LSH-bucketed
    candidate join instead of exact all-pairs.

    The exact variant's edge generation is O(N^2) by definition
    (SCALE.md shows the resulting 10x-probe factor); here candidates
    must share the hyperplane bucket first — an equi-join whose pair
    space is n^2 / 2^planes, with planes = max(8, ceil(log2(n)))
    ADAPTIVE to the corpus (round 6): expected bucket size stays ~1
    and candidate pairs ~linear in n at any scale, no hand-tuned
    config. Then the SAME exact cosine >= threshold re-rank and the
    SAME one-shuffle-per-round CC loop. Recall < 1 is the documented
    ANN tradeoff (deterministic here: the plane family is indexed md5
    constants and the oracle recomputes the identical count from the
    identical corpus, so the result is still hash-checked —
    approximate in RECALL, exact in PARITY)."""
    return clusters_lsh_frame(spark, sf_dir)


# Source-mixing ratios: even-numbered sources are kept whole, odd ones
# downsampled to 20% — the usual "upweight curated, downweight scraped"
# mixture move, made reproducible by the same portable hash bucket as
# q_split_train (membership is a pure function of doc_id).
_MIX_EVEN_PCT = 100
_MIX_ODD_PCT = 20
_MIX_KEEP = (
    f"CASE WHEN CAST(substring(source, 4) AS INT) % 2 = 0 "
    f"THEN {_MIX_EVEN_PCT} ELSE {_MIX_ODD_PCT} END"
)


@query(
    "q_mix_sources",
    f"""
    WITH b AS (
      SELECT source, lang, {_BUCKET_DUCK} AS bucket, {_MIX_KEEP} AS keep_pct
      FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           count(*) FILTER (WHERE bucket < keep_pct) AS n_kept,
           any_value(keep_pct) AS keep_pct
    FROM b GROUP BY source
    """,
)
def q_mix_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture interleave: per-source deterministic downsample
    to a target percentage via the portable doc_id hash bucket.

    Membership is a pure function of doc_id, so the mix is reproducible
    run-to-run and engine-to-engine (same property as q_split_train's
    contamination boundary). One narrow map + per-source agg — at
    100 TB the kept-corpus materialization is the same filter pushed
    into the scan, no shuffle at all."""
    b = t(spark, sf_dir, "documents").select(
        "source",
        F.expr(_BUCKET_SPARK).alias("bucket"),
        F.expr(_MIX_KEEP).alias("keep_pct"),
    )
    return b.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("bucket") < F.col("keep_pct")).alias("n_kept"),
        F.any_value("keep_pct").alias("keep_pct"),
    )


@query(
    "q_scrub_redact",
    """
    SELECT event_id,
           regexp_replace(props, '[0-9]+', '#', 'g') AS props_redacted,
           CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_redacted
    FROM events
    WHERE user_id < 50
    """,
)
def q_scrub_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style scrubbing: mask every digit run in the event payload
    and count the redactions per record — the shape of an email/phone/
    SSN scrub pass over a training corpus (the fixture payloads carry
    digits; swap the pattern for the real PII alternation in prod).

    Pure narrow map over the scan (regexp_replace + regexp_count are
    JVM intrinsics inside whole-stage codegen — no UDF); the user_id
    predicate pushes to parquet. Embarrassingly parallel at any
    scale."""
    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    return ev.select(
        "event_id",
        F.regexp_replace("props", "[0-9]+", "#").alias("props_redacted"),
        F.regexp_count("props", F.lit("[0-9]+")).cast("long").alias("n_redacted"),
    )


# CDC merge: deterministic change-batch derivation (pure functions of
# o_orderkey so the oracle can re-derive the same batch).
_UPD_RES = 3   # keys ending in 3 receive a status/price update
_DEL_RES = 7   # keys ending in 7 are deleted
_INS_RES = 1   # keys ending in 1 spawn an insert under a shifted key
_INS_SHIFT = 100_000_000
_UPD_CENTS = 12_345


def merge_upsert(base: DataFrame, changes: DataFrame, key: str, op_col: str = "op") -> DataFrame:
    """Generic CDC MERGE (the Delta/Iceberg MERGE INTO shape as a pure
    DataFrame operator): `changes` carries full rows plus an op column
    in {'I','U','D'}; inserts and updates win over base rows, deletes
    drop them, untouched base rows pass through.

    One full-outer keyed join = one shuffle on the merge key; with the
    base at rest bucketed/partitioned by that key (sink_bucketed's
    layout) the join co-locates and the merge is map-side. At 100 TB
    a table format would also rewrite only the touched files — the
    join plan below is exactly its row-level core."""
    vals = [c for c in base.columns if c != key]
    out = base.alias("b").join(changes.alias("c"), [key], "full_outer")
    keep = out.filter(F.coalesce(F.col(f"c.{op_col}"), F.lit("")) != F.lit("D"))
    return keep.select(
        F.col(key),
        *[F.coalesce(F.col(f"c.{v}"), F.col(f"b.{v}")).alias(v) for v in vals],
    )


@query(
    "q_upsert_merge",
    f"""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(round(o_totalprice*100,0) AS BIGINT) AS cents
      FROM orders
    )
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 10 = {_UPD_RES} THEN 'X' ELSE o_orderstatus END
             AS o_orderstatus,
           CASE WHEN o_orderkey % 10 = {_UPD_RES} THEN cents + {_UPD_CENTS} ELSE cents END
             AS cents
    FROM base WHERE o_orderkey % 10 <> {_DEL_RES}
    UNION ALL
    SELECT o_orderkey + {_INS_SHIFT}, o_orderstatus, cents
    FROM base WHERE o_orderkey % 10 = {_INS_RES}
    """,
)
def q_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC upsert: apply a change batch (updates, deletes, inserts) to a
    base table through the generic merge_upsert operator — the MERGE
    INTO / upsert-compaction shape every lake pipeline needs (the read
    twin is q_dedup_latest; this is the write-side resolution).

    The change batch is derived from the base by key residue so it is a
    pure function both engines can compute: keys %10==3 get a status
    'X' + price bump update, %10==7 are deleted, %10==1 spawn inserts
    under key+1e8. The oracle re-derives the merged table directly;
    every row that the full-outer join resolves wrongly (lost delete,
    dropped insert, stale update) flips the hash."""
    from jsmr_spark.compat import cents as _cents

    base = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", _cents(F.col("o_totalprice")).alias("cents")
    )
    res = F.col("o_orderkey") % 10
    upd = base.filter(res == _UPD_RES).select(
        "o_orderkey",
        F.lit("X").alias("o_orderstatus"),
        (F.col("cents") + _UPD_CENTS).alias("cents"),
        F.lit("U").alias("op"),
    )
    dele = base.filter(res == _DEL_RES).select(
        "o_orderkey",
        F.lit(None).cast("string").alias("o_orderstatus"),
        F.lit(None).cast("long").alias("cents"),
        F.lit("D").alias("op"),
    )
    ins = base.filter(res == _INS_RES).select(
        (F.col("o_orderkey") + _INS_SHIFT).alias("o_orderkey"),
        "o_orderstatus",
        "cents",
        F.lit("I").alias("op"),
    )
    changes = upd.unionByName(dele).unionByName(ins)
    return merge_upsert(base, changes, "o_orderkey")


def _e2e_oracle() -> str:
    from jsmr_spark.queries.text_extra import BENCH_MOD, BENCH_RESIDUE, REP_THRESHOLD

    shingle = (
        "list_transform(s[1:len(s)-2], (x, i) -> concat(x, ' ', s[i+1], ' ', s[i+2]))"
    )
    return f"""
    WITH surv AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY text
    ),
    base AS (
      SELECT d.doc_id, d.text, d.lang
      FROM documents d JOIN surv USING (doc_id)
      WHERE d.doc_id % {BENCH_MOD} <> {BENCH_RESIDUE}
    ),
    allsh AS (
      SELECT doc_id, {shingle} AS sg
      FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents
            WHERE len(string_split(text, ' ')) >= 3) t
    ),
    benchhv AS (
      SELECT DISTINCT {hex12_sql("md5(u.sg)")} AS hv
      FROM (SELECT unnest(sg) AS sg FROM allsh WHERE doc_id % {BENCH_MOD} = {BENCH_RESIDUE}) u
    ),
    trainhv AS (
      SELECT DISTINCT a.doc_id, {hex12_sql("md5(u.sg)")} AS hv
      FROM allsh a, unnest(a.sg) AS u(sg)
      WHERE a.doc_id % {BENCH_MOD} <> {BENCH_RESIDUE}
    ),
    contaminated AS (
      SELECT DISTINCT doc_id FROM trainhv JOIN benchhv USING (hv)
    ),
    repetitious AS (
      SELECT doc_id FROM allsh
      WHERE CAST(len(sg) - len(list_distinct(sg)) AS DOUBLE) / len(sg) > {REP_THRESHOLD}
    ),
    kept AS (
      SELECT b.* FROM base b
      WHERE b.doc_id NOT IN (SELECT doc_id FROM contaminated)
        AND b.doc_id NOT IN (SELECT doc_id FROM repetitious)
    ),
    labeled AS (
      SELECT CASE WHEN {_BUCKET_DUCK} < {TRAIN_PCT} THEN 'train'
                  WHEN {_BUCKET_DUCK} < {TRAIN_PCT + VAL_PCT} THEN 'val'
                  ELSE 'test' END AS split,
             lang,
             len(string_split(text, ' ')) AS n_tokens
      FROM kept
    )
    SELECT split, lang,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM labeled GROUP BY split, lang
    """


@query("q_pipeline_end2end", _e2e_oracle())
def q_pipeline_end2end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pipeline as ONE composed lazy DAG — the proof
    that the operator library chains the way a user would actually run
    it: exact-dedup survivors -> drop the held-out benchmark slice ->
    benchmark decontamination (broadcast shingle semi-join) -> Gopher
    repetition filter (narrow HOF map) -> deterministic train/val/test
    split -> per-(split, lang) doc/token accounting. Every stage reuses
    the exact formula its standalone key is oracle-verified on, and the
    composite is itself hash-checked against a single CTE-chain oracle,
    so stage INTERACTIONS (who feeds whom, in what order) are verified,
    not just stages in isolation.

    Shape at 100 TB: dedup is one text-keyed shuffle; decontam is a
    broadcast semi-join; repetition and split are narrow maps; the
    final accounting is one small keyed aggregate. Catalyst plans the
    whole chain as one job — no intermediate materialization."""
    from jsmr_spark.queries.dedup import _shingles
    from jsmr_spark.queries.text_extra import BENCH_MOD, BENCH_RESIDUE, REP_THRESHOLD

    docs = t(spark, sf_dir, "documents")
    is_bench = (F.col("doc_id") % BENCH_MOD) == BENCH_RESIDUE

    surv = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    base = docs.join(surv, "doc_id").filter(~is_bench)

    sh = _shingles(spark, sf_dir)
    bench_hv = F.broadcast(sh.filter(is_bench).select("hv").distinct())
    contaminated = (
        sh.filter(~is_bench).join(bench_hv, "hv").select("doc_id").distinct()
    )

    toks = F.split(F.col("text"), " ")
    shingle_expr = (
        "transform(sequence(1, size(toks) - 2), "
        "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1), ' ', element_at(toks, i + 2)))"
    )
    sg = (
        docs.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 3)
        .select("doc_id", F.expr(shingle_expr).alias("sg"))
    )
    dup_frac = (F.size("sg") - F.size(F.array_distinct("sg"))).cast("double") / F.size("sg")
    repetitious = sg.filter(dup_frac > REP_THRESHOLD).select("doc_id")

    kept = base.join(contaminated, "doc_id", "left_anti").join(
        repetitious, "doc_id", "left_anti"
    )
    split = (
        F.when(F.expr(_BUCKET_SPARK) < TRAIN_PCT, "train")
        .when(F.expr(_BUCKET_SPARK) < TRAIN_PCT + VAL_PCT, "val")
        .otherwise("test")
    )
    return (
        kept.select(split.alias("split"), "lang", F.size(F.split("text", " ")).alias("n_tokens"))
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_tokens").cast("long")).alias("total_tokens"),
        )
    )


@query(
    "q_observe_metrics",
    f"""
    SELECT (SELECT count(*) FROM orders) AS n_scanned,
           (SELECT CAST(sum({sql_cents("o_totalprice")}) AS BIGINT) FROM orders) AS scanned_cents,
           count(*) AS n_selected,
           CAST(sum({sql_cents("o_totalprice")}) AS BIGINT) AS selected_cents
    FROM orders
    WHERE o_orderstatus = 'F'
    """,
)
def q_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability via df.observe(): accumulator metrics
    (row count + exact-cents sum) are collected ON THE SCAN, before the
    filter, while the very same single pass computes the post-filter
    aggregate — the production pattern for data-quality counters
    (rows read / rows kept / bytes billed) WITHOUT a second scan of a
    100 TB input. The oracle recomputes both stages' numbers
    independently; a metric observed on the wrong side of the filter,
    or an action that double-fires the observation, fails the hash.

    Note the contrast with the naive form (two aggregates + a join =
    two scans or a cached materialization): observe() rides the
    existing task metrics channel at zero extra I/O."""
    from pyspark.sql import Observation

    obs = Observation("scan_metrics")
    o = t(spark, sf_dir, "orders")
    selected = (
        o.observe(
            obs,
            F.count(F.lit(1)).alias("n_scanned"),
            F.sum(cents(F.col("o_totalprice"))).alias("scanned_cents"),
        )
        .filter(F.col("o_orderstatus") == "F")
        .agg(
            F.count(F.lit(1)).alias("n_selected"),
            F.sum(cents(F.col("o_totalprice"))).alias("selected_cents"),
        )
    )
    sel_row = selected.collect()[0]  # triggers the pass; obs.get blocks on it
    m = obs.get
    return spark.createDataFrame(
        [
            (
                m["n_scanned"],
                m["scanned_cents"],
                sel_row["n_selected"],
                sel_row["selected_cents"],
            )
        ],
        "n_scanned long, scanned_cents long, n_selected long, selected_cents long",
    )


_JOBSPEC = {
    "source": "lineitem",
    "ops": [
        {"op": "filter", "expr": "l_returnflag = 'R'"},
        {
            "op": "derive",
            "name": "rev_bp",
            "expr": (
                "cast(floor(abs(l_extendedprice * 100.0) + 0.5) * "
                "signum(l_extendedprice * 100.0) as bigint) * "
                "(100 - cast(floor(abs(l_discount * 100.0) + 0.5) * "
                "signum(l_discount * 100.0) as bigint))"
            ),
        },
        {
            "op": "join",
            "right": {"source": "supplier"},
            "on": "l_suppkey = s_suppkey",
            "broadcast": True,
        },
        {
            "op": "join",
            "right": {"source": "nation"},
            "on": "s_nationkey = n_nationkey",
            "broadcast": True,
        },
        {
            "op": "group",
            "keys": ["n_name"],
            "aggs": {
                "revenue": "sum(rev_bp) / cast(10000.0 as double)",
                "n_items": "count(1)",
            },
        },
    ],
}


@query(
    "q_jobspec_pipeline",
    f"""
    SELECT n.n_name,
           sum({sql_cents("l.l_extendedprice")} * (100 - {sql_cents("l.l_discount")}))
             / 10000.0::DOUBLE AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY n.n_name
    """,
)
def q_jobspec_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's job-as-config model: this query is built from a
    pure-JSON job specification (filter -> exact-cents derive ->
    broadcast dim joins -> keyed aggregate) compiled by
    jsmr_spark/jobspec.py — no DataFrame code in the job definition,
    only data. A JsMr user's coordinator-submitted JSON job maps onto
    this surface; their map/reduce CODE maps onto jsmr_spark/mr.py.

    The spec compiles to ONE lazy Catalyst plan (op boundaries do not
    materialize), so broadcast hints, pushdown, and partial aggregation
    all apply exactly as in the handwritten twin — the oracle here IS
    that twin, so the hash proves spec-compiled == handwritten."""
    from jsmr_spark.jobspec import compile_job

    return compile_job(spark, sf_dir, _JOBSPEC)


FUNNEL_SHORT_MIN = 120  # chars; ~10th percentile of the corpus


_FUNNEL_ORACLE = f"""
    WITH corpus AS (
      SELECT doc_id, text, n_chars FROM documents
      WHERE doc_id % 100 <> 7
    ),
    canon AS (
      SELECT md5(text) AS h, min(doc_id) AS keeper FROM corpus GROUP BY md5(text)
    ),
    toks AS (
      SELECT doc_id, string_split(text, ' ') AS s FROM corpus
    ),
    sh AS (
      SELECT DISTINCT doc_id, {hex12_sql("md5(sg)")} AS hv FROM (
        SELECT doc_id,
               unnest(list_transform(s[1:len(s)-2],
                                     (x, i) -> concat(x, ' ', s[i+1], ' ', s[i+2]))) AS sg
        FROM toks WHERE len(s) >= 3) u
    ),
    bench AS (
      SELECT DISTINCT {hex12_sql("md5(sg)")} AS hv FROM (
        SELECT unnest(list_transform(s[1:len(s)-2],
                                     (x, i) -> concat(x, ' ', s[i+1], ' ', s[i+2]))) AS sg
        FROM (SELECT string_split(text, ' ') AS s FROM documents
              WHERE doc_id % 100 = 7 AND len(string_split(text, ' ')) >= 3) b) u
    ),
    rep AS (
      SELECT doc_id,
             CAST(len(sg) - len(list_distinct(sg)) AS DOUBLE) / len(sg) AS dup_frac
      FROM (
        SELECT doc_id,
               list_transform(s[1:len(s)-2],
                              (x, i) -> concat(x, ' ', s[i+1], ' ', s[i+2])) AS sg
        FROM toks WHERE len(s) >= 3) x
    ),
    flags AS (
      SELECT c.doc_id,
             (c.doc_id <> canon.keeper) AS is_dup,
             (c.n_chars < {FUNNEL_SHORT_MIN}) AS is_short,
             coalesce(rep.dup_frac > 0.2, FALSE) AS is_rep,
             EXISTS (SELECT 1 FROM sh JOIN bench USING (hv)
                     WHERE sh.doc_id = c.doc_id) AS is_contam
      FROM corpus c
      JOIN canon ON md5(c.text) = canon.h
      LEFT JOIN rep ON rep.doc_id = c.doc_id
    )
    SELECT CASE WHEN is_dup THEN '1_exact_dup'
                WHEN is_short THEN '2_too_short'
                WHEN is_rep THEN '3_repetitious'
                WHEN is_contam THEN '4_contaminated'
                ELSE '5_pass' END AS rule,
           count(*) AS n_docs
    FROM flags GROUP BY 1
"""


@query("q_curation_funnel", _FUNNEL_ORACLE)
def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-funnel ATTRIBUTION: every corpus document is assigned
    the FIRST rule that rejects it — exact duplicate, too short,
    within-doc repetition, benchmark contamination — or `pass`. Where
    q_pipeline_end2end produces the surviving corpus, this produces
    the report a data team actually reads: how much each rule costs,
    under the same precedence the filter chain applies. First-fail
    attribution (not independent flags) is what makes per-rule counts
    sum to the corpus size.

    Shape at 100 TB: one md5 census for the dup flag (16-byte keyed
    shuffle), one broadcast bench-shingle semi-join for contamination,
    a narrow HOF map for repetition, then a single CASE + tiny
    aggregate. Rules are flags on ONE pass over the corpus — adding a
    rule adds a column, not a scan."""
    from jsmr_spark.queries.dedup import _shingles
    from jsmr_spark.queries.text_extra import BENCH_MOD, BENCH_RESIDUE, REP_THRESHOLD

    corpus = t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % BENCH_MOD) != BENCH_RESIDUE
    )
    canon = corpus.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("keeper")
    )

    toks = F.split(F.col("text"), " ")
    shingle_expr = (
        "transform(sequence(1, size(toks) - 2), "
        "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1), ' ', element_at(toks, i + 2)))"
    )
    rep = (
        corpus.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 3)
        .select("doc_id", F.expr(shingle_expr).alias("sg"))
        .select(
            "doc_id",
            (
                (F.size("sg") - F.size(F.array_distinct("sg"))).cast("double")
                / F.size("sg")
            ).alias("dup_frac"),
        )
    )

    sh = _shingles(spark, sf_dir)
    is_bench = (F.col("doc_id") % BENCH_MOD) == BENCH_RESIDUE
    bench = F.broadcast(sh.filter(is_bench).select("hv").distinct())
    contam = (
        sh.filter(~is_bench)
        .join(bench, "hv")
        .select("doc_id")
        .distinct()
        .withColumn("is_contam", F.lit(True))
    )

    flags = (
        corpus.select("doc_id", "n_chars", F.md5("text").alias("h"))
        .join(canon, "h")
        .join(rep, "doc_id", "left")
        .join(contam, "doc_id", "left")
        .select(
            "doc_id",
            (F.col("doc_id") != F.col("keeper")).alias("is_dup"),
            (F.col("n_chars") < FUNNEL_SHORT_MIN).alias("is_short"),
            F.coalesce(F.col("dup_frac") > REP_THRESHOLD, F.lit(False)).alias(
                "is_rep"
            ),
            F.coalesce(F.col("is_contam"), F.lit(False)).alias("is_contam"),
        )
    )
    rule = (
        F.when(F.col("is_dup"), "1_exact_dup")
        .when(F.col("is_short"), "2_too_short")
        .when(F.col("is_rep"), "3_repetitious")
        .when(F.col("is_contam"), "4_contaminated")
        .otherwise("5_pass")
    )
    return flags.select(rule.alias("rule")).groupBy("rule").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


# --- temperature-weighted mixture rates (computed, not configured) ---

_TEMP_HV = f"({hex12_sql('md5(cast(doc_id as string))')} % 1000000)"
_TEMP_HV_DUCK = f"({hex12_sql('md5(CAST(doc_id AS VARCHAR))')} % 1000000)"


@query(
    "q_mix_temperature",
    f"""
    WITH d AS (
      SELECT lang, {_TEMP_HV_DUCK} AS hv FROM documents
    ),
    st AS (
      SELECT lang, count(*) AS n_docs FROM d GROUP BY lang
    ),
    r AS (
      SELECT lang, n_docs,
             sqrt(CAST(min(n_docs) OVER () AS DOUBLE) / CAST(n_docs AS DOUBLE)) AS rate
      FROM st
    )
    SELECT d.lang,
           CAST(any_value(r.n_docs) AS BIGINT) AS n_docs,
           floor(any_value(r.rate) * 10000 + 0.5) / 10000.0 AS rate,
           count(*) FILTER (
             WHERE d.hv < CAST(floor(r.rate * 1000000 + 0.5) AS BIGINT)
           ) AS n_sampled
    FROM d JOIN r ON d.lang = r.lang
    GROUP BY d.lang
    """,
)
def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature sampling for the training mixture (the multilingual
    upsampling rule of arXiv:1901.07291 at T=2, anchored at the
    smallest domain): per-language keep-rate r = sqrt(n_min / n_lang),
    so the rarest language keeps everything and dominant languages are
    downsampled toward balance. Unlike q_mix_sources (CONFIGURED
    per-source percentages), the rates here are COMPUTED from corpus
    statistics — the two-pass "measure then sample" shape.

    Determinism: the anchor is an exact integer (min count, not a
    cross-domain floating sum, whose addition order would differ by
    engine); the rate is one correctly-rounded division + sqrt, so
    both engines derive bit-identical doubles; membership compares the
    portable md5 hash bucket (0..999999) against the integer-floored
    threshold — a pure function of doc_id.

    Scale shape: pass 1 is one keyed count (a few dozen rows out);
    the per-domain thresholds broadcast back and pass 2 is a narrow
    filter + the same keyed count. At 100 TB the kept-corpus
    materialization is the hv < thr filter fused into the scan."""
    d = t(spark, sf_dir, "documents").select(
        "lang", F.expr(_TEMP_HV).alias("hv")
    )
    st = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    r = st.withColumn(
        "rate",
        F.sqrt(
            F.min("n_docs").over(Window.orderBy()).cast("double")
            / F.col("n_docs").cast("double")
        ),
    )
    thr = F.floor(F.col("rate") * 1000000 + F.lit(0.5)).cast("long")
    return (
        d.join(F.broadcast(r), "lang")
        .groupBy("lang")
        .agg(
            F.any_value("n_docs").cast("long").alias("n_docs"),
            (F.floor(F.any_value("rate") * 10000 + F.lit(0.5)) / 10000.0).alias("rate"),
            F.count_if(F.col("hv") < thr).alias("n_sampled"),
        )
    )


@query(
    "q_mix_epochs",
    """
    WITH s AS (SELECT source, count(*) AS n_in FROM documents GROUP BY source),
    m AS (SELECT max(n_in) AS mx FROM s)
    SELECT s.source, CAST(s.n_in AS BIGINT) AS n_in,
           CAST(greatest(1, m.mx // s.n_in) AS BIGINT) AS n_epochs,
           CAST(s.n_in * greatest(1, m.mx // s.n_in) AS BIGINT) AS n_out
    FROM s CROSS JOIN m
    """,
)
def q_mix_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch up-sampling materialization: small sources repeat
    floor(max_source_size / size) times (>=1) so the training mixture
    approaches balance — the 'dataset epochs' step after the mixture
    RATES are chosen (q_mix_temperature computes rates; this key
    actually materializes the repeats). The engine EXPLODES a
    sequence(1, k) per row and the hashed n_out comes from COUNTING
    the materialized rows, while the oracle derives the same number
    arithmetically — so a dropped or doubled replica in the explode
    fails the hash, not just the bookkeeping.

    Scale shape: the factor table is per-source (tiny, broadcast); the
    explode is a narrow map whose output is at most max/min times the
    input — the same linear pass a real epochs writer runs; no shuffle
    until the final per-source count."""
    d = t(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_in"))
    m = s.agg(F.max("n_in").alias("mx"))
    factors = s.crossJoin(F.broadcast(m)).select(
        "source",
        "n_in",
        F.greatest(F.lit(1), F.expr("mx div n_in")).alias("n_epochs"),
    )
    repeated = (
        d.select("doc_id", "source")
        .join(F.broadcast(factors), "source")
        .select(
            "source",
            "n_in",
            "n_epochs",
            F.explode(F.expr("sequence(1, n_epochs)")).alias("epoch"),
        )
    )
    return repeated.groupBy("source", "n_in", "n_epochs").agg(
        F.count(F.lit(1)).alias("n_out")
    )


DRIFT_SPLIT = 50  # hash-bucket boundary between batch A and batch B


@query(
    "q_profile_drift",
    f"""
    WITH b AS (
      SELECT lang, n_chars,
             CASE WHEN {_BUCKET_DUCK} < {DRIFT_SPLIT} THEN 1 ELSE 0 END AS in_a
      FROM documents
    ),
    per_lang AS (
      SELECT lang,
             sum(in_a) AS ca,
             sum(1 - in_a) AS cb
      FROM b GROUP BY lang
    ),
    tot AS (
      SELECT CAST(sum(in_a) AS BIGINT) AS na,
             CAST(sum(1 - in_a) AS BIGINT) AS nb,
             CAST(sum(CASE WHEN in_a = 1 THEN n_chars ELSE 0 END) AS BIGINT) AS sa,
             CAST(sum(CASE WHEN in_a = 0 THEN n_chars ELSE 0 END) AS BIGINT) AS sb
      FROM b
    ),
    tvd AS (
      SELECT CAST(sum(abs(p.ca * t.nb - p.cb * t.na)) AS BIGINT) AS tvd_num
      FROM per_lang p CROSS JOIN tot t
    )
    SELECT t.na AS n_a, t.nb AS n_b,
           round(CAST(t.sa AS DOUBLE) / t.na, 4) AS mean_chars_a,
           round(CAST(t.sb AS DOUBLE) / t.nb, 4) AS mean_chars_b,
           v.tvd_num,
           round(CAST(v.tvd_num AS DOUBLE) / (2.0 * t.na * t.nb), 4) AS lang_tvd
    FROM tot t CROSS JOIN tvd v
    """,
)
def q_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-drift report: split the corpus into two pseudo-batches by
    the portable hash (the SAME boundary recipe as q_split_train, so
    the 'old batch vs new batch' comparison is reproducible), then
    compare their profiles — sizes, mean document length, and the
    total-variation distance between their LANGUAGE mixes. This is the
    gate a recurring ingest runs before merging a new crawl: a lang_tvd
    jump means the feed changed under you.

    Exactness: the TVD numerator is the cross-multiplied integer form
    sum |c_a*n_b - c_b*n_a| (no per-lang float rates), hashed as an
    exact BIGINT; means and the normalized TVD are single divisions
    from exact integers. Headroom: c*n products stay under 2^63 to
    ~3e9 docs per batch.

    Scale shape: one narrow map (hash bucket), one lang-keyed rollup,
    two 1-row aggregates crossJoined (1x1 by construction) — the
    corpus is read once and never shuffled beyond the lang rollup."""
    b = t(spark, sf_dir, "documents").select(
        "lang",
        "n_chars",
        F.when(F.expr(_BUCKET_SPARK) < DRIFT_SPLIT, 1).otherwise(0).alias("in_a"),
    )
    per_lang = b.groupBy("lang").agg(
        F.sum("in_a").alias("ca"),
        F.sum(1 - F.col("in_a")).alias("cb"),
    )
    tot = b.agg(
        F.sum("in_a").cast("long").alias("na"),
        F.sum(1 - F.col("in_a")).cast("long").alias("nb"),
        F.sum(F.when(F.col("in_a") == 1, F.col("n_chars")).otherwise(0))
        .cast("long")
        .alias("sa"),
        F.sum(F.when(F.col("in_a") == 0, F.col("n_chars")).otherwise(0))
        .cast("long")
        .alias("sb"),
    )
    tvd = (
        per_lang.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na"))
            )
            .cast("long")
            .alias("tvd_num")
        )
    )
    return (
        tot.crossJoin(F.broadcast(tvd))
        .select(
            F.col("na").alias("n_a"),
            F.col("nb").alias("n_b"),
            r4(F.col("sa").cast("double") / F.col("na")).alias("mean_chars_a"),
            r4(F.col("sb").cast("double") / F.col("nb")).alias("mean_chars_b"),
            "tvd_num",
            r4(
                F.col("tvd_num").cast("double")
                / (F.lit(2.0) * F.col("na") * F.col("nb"))
            ).alias("lang_tvd"),
        )
    )


# --- k-fold assignment census (round 7) --------------------------------

KFOLD_K = 5


@query(
    "q_split_kfold",
    f"""
    WITH b AS (
      SELECT doc_id, lang,
             CAST({_bucket_sql("CAST(doc_id AS VARCHAR)")} % {KFOLD_K} AS INTEGER) AS fold,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    )
    SELECT fold, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(CAST(sum(n_tokens) AS BIGINT) * 1000000
             // (SELECT CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                 FROM documents)
             AS BIGINT) AS token_share_ppm
    FROM b GROUP BY fold, lang
    """,
)
def q_split_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validation assignment by portable hash of doc_id
    (fold = hash-bucket mod K) with a per-(fold, lang) census — the
    reproducibility contract of q_split_train extended to K rotating
    held-out folds: membership is a pure function of the id, so every
    engine, rerun and cluster size deals the identical folds, and the
    census shows the deal is balanced per language before anyone
    trains on it.

    Exactness: fold ids and counts are exact integers; token shares
    are exact ppm by positive-only truncating division against the
    corpus total (a 1-row scalar subquery, mirrored broadcast-side in
    the Spark plan).

    Scale shape: one narrow map (hash + mod) and one hash aggregate on
    the (K x langs)-ary key — partial aggregation collapses each map
    partition to at most K*langs rows before the exchange. Fold counts
    never require a shuffle of the corpus by fold."""
    docs = t(spark, sf_dir, "documents").select(
        "lang",
        (F.expr(_BUCKET_SPARK) % KFOLD_K).cast("int").alias("fold"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    tot = docs.agg(F.sum("n_tokens").cast("long").alias("corpus_tokens"))
    return (
        docs.groupBy("fold", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "fold",
            "lang",
            "n_docs",
            "n_tokens",
            F.expr("n_tokens * 1000000 DIV corpus_tokens").alias(
                "token_share_ppm"
            ),
        )
    )


# --- priority-ordered canonical selection (round 7) ---------------------

# Source priority for cross-source duplicate groups: curated (even
# source index) beats scraped (odd), lower source index beats higher,
# then lowest doc_id — the "keep the best provenance copy" rule.
# Identical expression text runs on both engines (the _MIX_KEEP
# precedent: 2-arg substring and INT are common dialect).
_PRIORITY_EXPR = (
    "(CAST(substring(source, 4) AS INT) % 2) * 1000000"
    " + CAST(substring(source, 4) AS INT)"
)


@query(
    "q_mix_dedup_priority",
    f"""
    WITH d AS (
      SELECT doc_id, source, md5(text) AS digest,
             {_PRIORITY_EXPR} AS prio
      FROM documents
    ),
    g AS (
      SELECT digest,
             CAST(count(*) AS BIGINT) AS n_copies,
             CAST(count(DISTINCT source) AS BIGINT) AS n_sources
      FROM d GROUP BY digest
    ),
    keep AS (
      SELECT digest, doc_id AS kept_doc_id, source AS kept_source
      FROM (
        SELECT d.*, row_number() OVER (
          PARTITION BY digest ORDER BY prio, doc_id) AS rk
        FROM d
      ) WHERE rk = 1
    )
    SELECT g.digest, k.kept_doc_id, k.kept_source, g.n_copies, g.n_sources,
           g.n_copies > 1 AS is_dup_group
    FROM g JOIN keep k ON k.digest = g.digest
    """,
)
def q_mix_dedup_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source exact dedup where the kept copy is chosen by a
    provenance PRIORITY rule (curated sources over scraped, then the
    stable id tie-break) instead of q_dedup_keep_canonical's purely
    content-local rule — the policy form every mixture pipeline needs
    when the same document arrives via multiple feeds of different
    trust.

    Exactness: groups key on md5(text) (identical text both engines);
    priority is exact integer arithmetic on the source index; the
    winner is a deterministic row_number with a doc_id tie-break.

    Scale shape: one digest-keyed exchange shared by the group census
    and the winner window (same partitioning, no second shuffle of the
    corpus). The output is the full KEEP TABLE — one row per distinct
    document with its chosen keeper (the materialization downstream
    reads), dup groups flagged by is_dup_group; a dups-only variant is
    one filter away and was deliberately not registered so the driver
    check stays non-trivial on fixtures whose small slices carry no
    exact dups."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5(F.col("text").cast("binary")).alias("digest"),
        F.expr(_PRIORITY_EXPR).alias("prio"),
    )
    g = d.groupBy("digest").agg(
        F.count(F.lit(1)).cast("long").alias("n_copies"),
        F.countDistinct("source").cast("long").alias("n_sources"),
    )
    w = Window.partitionBy("digest").orderBy("prio", "doc_id")
    keep = (
        d.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "digest",
            F.col("doc_id").alias("kept_doc_id"),
            F.col("source").alias("kept_source"),
        )
    )
    return g.join(keep, "digest").select(
        "digest",
        "kept_doc_id",
        "kept_source",
        "n_copies",
        "n_sources",
        (F.col("n_copies") > 1).alias("is_dup_group"),
    )


BUDGET_PCT = 60  # global token budget: 60% of corpus tokens
WF_ROUNDS = 3  # unrolled waterfill rounds (cap is monotone nondecreasing)


def _waterfill_oracle() -> str:
    return f"""
    WITH src AS (
      SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tt
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(sum(tt) * {BUDGET_PCT} // 100 AS BIGINT) AS b,
             CAST(count(*) AS BIGINT) AS n
      FROM src
    ),
    c0 AS (SELECT CAST(b // n AS BIGINT) AS cap FROM tot),
    a1 AS (
      SELECT CAST(coalesce(sum(tt) FILTER (WHERE tt <= (SELECT cap FROM c0)), 0)
                  AS BIGINT) AS taken,
             CAST(count(*) FILTER (WHERE tt <= (SELECT cap FROM c0)) AS BIGINT)
               AS nsat
      FROM src
    ),
    c1 AS (
      SELECT CAST(CASE WHEN (SELECT n FROM tot) - a1.nsat > 0
                  THEN ((SELECT b FROM tot) - a1.taken)
                       // ((SELECT n FROM tot) - a1.nsat)
                  ELSE (SELECT cap FROM c0) END AS BIGINT) AS cap
      FROM a1
    ),
    a2 AS (
      SELECT CAST(coalesce(sum(tt) FILTER (WHERE tt <= (SELECT cap FROM c1)), 0)
                  AS BIGINT) AS taken,
             CAST(count(*) FILTER (WHERE tt <= (SELECT cap FROM c1)) AS BIGINT)
               AS nsat
      FROM src
    ),
    c2 AS (
      SELECT CAST(CASE WHEN (SELECT n FROM tot) - a2.nsat > 0
                  THEN ((SELECT b FROM tot) - a2.taken)
                       // ((SELECT n FROM tot) - a2.nsat)
                  ELSE (SELECT cap FROM c1) END AS BIGINT) AS cap
      FROM a2
    )
    SELECT src.source, src.tt AS total_tokens,
           CAST(least(src.tt, (SELECT cap FROM c2)) AS BIGINT) AS alloc_tokens,
           CAST(CASE WHEN src.tt > (SELECT cap FROM c2) THEN 1 ELSE 0 END
                AS INTEGER) AS capped,
           CAST(least(src.tt, (SELECT cap FROM c2)) * 1000000
                // (SELECT b FROM tot) AS BIGINT) AS budget_share_ppm
    FROM src
"""


@query("q_mix_token_budget", _waterfill_oracle())
def q_mix_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling token-budget allocation across sources: given a
    global budget ({BUDGET_PCT}% of corpus tokens), every source gets
    min(its tokens, cap) where the cap is the max-min fair share —
    small sources are taken whole and their leftover raises everyone
    else's cap. {WF_ROUNDS} unrolled rounds (cap is monotone
    nondecreasing, and each round either saturates a new source or is
    a fixed point, so rounds beyond the source count change nothing —
    5 sources here). The budgeting step between q_mix_sources (WHAT
    ratio) and q_mix_temperature (HOW computed): this key decides how
    many tokens each source may contribute at all. Pure BIGINT floor
    arithmetic — hash-exact.

    Scale shape: one token census per source (map-side combined);
    every round is a 1-row aggregate over the SOURCE table (a handful
    of rows) — control-plane work; the corpus is scanned once."""
    src = (
        t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.expr("CAST(sum(size(split(text, ' '))) AS BIGINT)").alias("tt"))
    )
    tot = src.agg(
        F.expr(f"CAST(sum(tt) * {BUDGET_PCT} DIV 100 AS BIGINT)").alias("b"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    s = src.crossJoin(F.broadcast(tot))
    cap = F.expr("b DIV n")
    for _ in range(WF_ROUNDS - 1):
        rnd = s.withColumn("cap", cap).agg(
            F.expr("CAST(coalesce(sum(tt) FILTER (WHERE tt <= cap), 0) AS BIGINT)").alias(
                "taken"
            ),
            F.expr("CAST(count(*) FILTER (WHERE tt <= cap) AS BIGINT)").alias(
                "nsat"
            ),
            F.first("cap").alias("prev_cap"),
            F.first("b").alias("b"),
            F.first("n").alias("n"),
        )
        nxt = rnd.select(
            F.expr(
                "CAST(CASE WHEN n - nsat > 0 THEN (b - taken) DIV (n - nsat)"
                " ELSE prev_cap END AS BIGINT)"
            ).alias("cap_next")
        )
        s = src.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(nxt))
        cap = F.col("cap_next")
    return s.withColumn("cap", cap).select(
        "source",
        F.col("tt").alias("total_tokens"),
        F.expr("CAST(least(tt, cap) AS BIGINT)").alias("alloc_tokens"),
        F.expr("CAST(CASE WHEN tt > cap THEN 1 ELSE 0 END AS INT)").alias("capped"),
        F.expr("CAST(least(tt, cap) * 1000000 DIV b AS BIGINT)").alias(
            "budget_share_ppm"
        ),
    )


CARD_SHORT_TOKENS = 50  # short-doc threshold for the card's share column


def _dataset_card_oracle() -> str:
    return f"""
    WITH d AS (
      SELECT doc_id, source, lang, n_chars,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             md5(text) AS digest
      FROM documents
    ),
    dup AS (
      SELECT source, CAST(sum(cnt - 1) AS BIGINT) AS n_dup_docs
      FROM (
        SELECT source, digest, CAST(count(*) AS BIGINT) AS cnt
        FROM d GROUP BY source, digest
      ) GROUP BY source
    ),
    langs AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS n
      FROM d GROUP BY source, lang
    ),
    toplang AS (
      SELECT source, lang AS top_lang FROM (
        SELECT source, lang,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n DESC, lang) AS rn
        FROM langs
      ) WHERE rn = 1
    ),
    base AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             CAST(sum(n_chars) AS BIGINT) AS total_chars,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(sum(n_tokens) * 1000 // count(*) AS BIGINT)
               AS mean_tokens_milli,
             CAST(count(*) FILTER (WHERE n_tokens < {CARD_SHORT_TOKENS})
                  * 1000000 // count(*) AS BIGINT) AS short_ppm
      FROM d GROUP BY source
    )
    SELECT b.source, b.n_docs, b.total_tokens, b.total_chars, b.n_langs,
           t.top_lang, b.mean_tokens_milli, b.short_ppm,
           CAST(dup.n_dup_docs * 1000000 // b.n_docs AS BIGINT) AS dup_ppm
    FROM base b
    JOIN toplang t ON t.source = b.source
    JOIN dup ON dup.source = b.source
    """


@query("q_profile_dataset_card", _dataset_card_oracle())
def q_profile_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card (Gebru et al. 2021, "Datasheets for
    Datasets", reduced to the queryable core): document/token/char
    volumes, language spread with the modal language (deterministic
    tie-break), mean document length in exact milli-tokens, the
    short-document share, and the exact-duplicate rate — the one-table
    summary a data consumer reads before touching a source, composed
    from the same primitives the dedicated keys audit in depth
    (q_profile_columns, q_dedup_rate_by_source, q_text_token_stats).

    Scale shape: ONE narrow pass over documents builds every census
    input (digest, token count, lang); three keyed aggregates over
    source-sized tables and one argmax window over source × lang
    rows. All integers exact; ratios are floor-divided identically."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        F.expr("CAST(size(split(text, ' ')) AS BIGINT)").alias("n_tokens"),
        F.md5("text").alias("digest"),
    )
    dup = (
        d.groupBy("source", "digest")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .groupBy("source")
        .agg(F.sum(F.col("cnt") - 1).cast("long").alias("n_dup_docs"))
    )
    langs = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    wt = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("lang"))
    toplang = (
        langs.withColumn("rn", F.row_number().over(wt))
        .where(F.col("rn") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    base = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.expr("CAST(sum(n_tokens) * 1000 DIV count(*) AS BIGINT)").alias(
            "mean_tokens_milli"
        ),
        F.expr(
            f"CAST(count_if(n_tokens < {CARD_SHORT_TOKENS}) * 1000000"
            " DIV count(*) AS BIGINT)"
        ).alias("short_ppm"),
    )
    return (
        base.join(F.broadcast(toplang), "source")
        .join(F.broadcast(dup), "source")
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "total_chars",
            "n_langs",
            "top_lang",
            "mean_tokens_milli",
            "short_ppm",
            F.expr("CAST(n_dup_docs * 1000000 DIV n_docs AS BIGINT)").alias(
                "dup_ppm"
            ),
        )
    )


# Two-phase anneal schedule: progress buckets below the split train on
# the breadth mix, the final stretch anneals toward the quality mix.
ANNEAL_SPLIT = 70  # percent of the 0..99 progress-hash space
ANNEAL_MOD = 16


_ANNEAL_ORACLE = f"""
    WITH d AS (
      SELECT source,
             CAST(substr(source, 4) AS INTEGER) % {ANNEAL_MOD} AS sidx,
             CASE WHEN {_BUCKET_DUCK} < {ANNEAL_SPLIT}
                  THEN 'early' ELSE 'late' END AS phase,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    g AS (
      SELECT phase, source, sidx,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS tokens
      FROM d GROUP BY phase, source, sidx
    )
    SELECT phase, source, n_docs, tokens,
           CAST(CASE WHEN phase = 'early' THEN 1000 - 30 * sidx
                     ELSE 400 + 40 * sidx END AS BIGINT) AS weight_milli,
           CAST(tokens * (CASE WHEN phase = 'early' THEN 1000 - 30 * sidx
                               ELSE 400 + 40 * sidx END) // 1000
                AS BIGINT) AS alloc_tokens
    FROM g
"""


@query("q_mix_anneal", _ANNEAL_ORACLE)
def q_mix_anneal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase annealed data mixing — the pretraining schedule where
    the LAST stretch of training shifts the source mixture toward the
    high-quality slice (the 'anneal' every modern data card describes)
    rather than holding one static mix: docs land in the early/late
    phase by the deterministic progress hash ({ANNEAL_SPLIT} % early),
    and each (phase, source) cell gets its scheduled weight and the
    token allocation that weight buys. Completes the mixing family:
    q_mix_sources fixes static weights, q_mix_temperature rebalances by
    size, q_mix_token_budget waterfills a cap, q_mix_epochs repeats
    sources — this key adds the TIME axis.

    Weights are a pure integer function of the source index (early:
    1000 − 30·(idx mod {ANNEAL_MOD}) milli — breadth-heavy; late:
    400 + 40·(idx mod {ANNEAL_MOD}) milli — inverted toward the
    annealed slice), so both engines derive identical schedules with
    no weight table to ship; allocations are one non-negative floor
    division.

    Scale shape: one narrow map (hash bucket + token count), one
    (phase, source)-keyed map-side-combinable aggregate — output is
    2 × sources rows."""
    d = t(spark, sf_dir, "documents").select(
        "source",
        (F.substring("source", 4, 10).cast("int") % ANNEAL_MOD).alias("sidx"),
        F.when(F.expr(_BUCKET_SPARK) < ANNEAL_SPLIT, "early")
        .otherwise("late")
        .alias("phase"),
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    g = d.groupBy("phase", "source", "sidx").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("tokens"),
    )
    wexpr = (
        "CASE WHEN phase = 'early' THEN 1000 - 30 * sidx"
        " ELSE 400 + 40 * sidx END"
    )
    return g.select(
        "phase",
        "source",
        "n_docs",
        "tokens",
        F.expr(f"CAST({wexpr} AS BIGINT)").alias("weight_milli"),
        F.expr(f"CAST(tokens * ({wexpr}) DIV 1000 AS BIGINT)").alias(
            "alloc_tokens"
        ),
    )


# --- sequence-packing census (round 10) ----------------------------------

PACK_CTX = 512  # training context length in whitespace tokens


_PACK_ORACLE = f"""
    WITH d AS (
      SELECT source, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
      FROM documents
    ),
    c AS (
      SELECT source, doc_id, tok,
             CAST(sum(tok) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM d
    ),
    f AS (
      SELECT source, tok,
             CASE WHEN (cum - tok) // {PACK_CTX} <> (cum - 1) // {PACK_CTX}
                  THEN 1 ELSE 0 END AS split_doc
      FROM c
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS total_tokens,
           CAST((sum(tok) + {PACK_CTX} - 1) // {PACK_CTX} AS BIGINT)
             AS n_windows,
           CAST(sum(split_doc) AS BIGINT) AS split_docs,
           CAST(sum(split_doc) * 1000000 // count(*) AS BIGINT)
             AS split_ppm,
           CAST((sum(tok) + {PACK_CTX} - 1) // {PACK_CTX} * {PACK_CTX}
                - sum(tok) AS BIGINT) AS tail_waste_tokens,
           CAST(count(*) * 1000
                // ((sum(tok) + {PACK_CTX} - 1) // {PACK_CTX}) AS BIGINT)
             AS docs_per_window_milli
    FROM f GROUP BY source
"""


@query("q_pack_sequences", _PACK_ORACLE)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence-packing census at context length
    {PACK_CTX}: pretraining dataloaders concatenate documents in a
    deterministic order and slice the stream into fixed context
    windows (the GPT-3/Gopher regime), so the numbers that decide the
    batch pipeline are per source: how many windows the corpus yields,
    how many documents get SPLIT across a window boundary (each split
    is an attention-contamination site unless the loader masks across
    the seam), the split rate, the tail waste in the final window, and
    mean docs per window (the document-boundary density the masking
    pass will pay for). Order is (source, doc_id) — the stable shard
    order a production loader freezes before training.

    Determinism: token counts, running sums and every ratio are exact
    integers (ppm / milli via integer division); a doc is split iff its
    [cum-tok, cum-1] token interval crosses a {PACK_CTX} boundary.

    Scale shape: one corpus scan (narrow token count, no explode), ONE
    running-sum window partitioned by source ordered by doc_id (the
    packing order is per-shard sequential BY DEFINITION — this window
    is the operator, not an artifact), then a source-keyed rollup;
    output is catalog-sized. At 100 TB the same plan runs per shard:
    the window key becomes (source, shard) and windows never span
    shards, exactly like the real loader."""
    d = t(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("tok"),
    )
    wcum = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.withColumn("cum", F.sum("tok").over(wcum).cast("long"))
    split_doc = F.expr(
        f"CASE WHEN (cum - tok) DIV {PACK_CTX} <> (cum - 1) DIV {PACK_CTX}"
        " THEN 1 ELSE 0 END"
    )
    f = c.select("source", "tok", split_doc.alias("split_doc"))
    nw = f"(sum(tok) + {PACK_CTX} - 1) DIV {PACK_CTX}"
    return f.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("tok").cast("long").alias("total_tokens"),
        F.expr(f"CAST({nw} AS BIGINT)").alias("n_windows"),
        F.sum("split_doc").cast("long").alias("split_docs"),
        F.expr("CAST(sum(split_doc) * 1000000 DIV count(*) AS BIGINT)").alias(
            "split_ppm"
        ),
        F.expr(f"CAST({nw} * {PACK_CTX} - sum(tok) AS BIGINT)").alias(
            "tail_waste_tokens"
        ),
        F.expr(f"CAST(count(*) * 1000 DIV ({nw}) AS BIGINT)").alias(
            "docs_per_window_milli"
        ),
    )


# --- per-source KL divergence vs the corpus mix (round 10) ----------------

KL_BUCKETS = 256  # hashed word-bigram feature space (the DSIR grid)

_KL_LN_SCALE = 1_000_000


def _kl_lnq(x: str) -> str:
    """ln of a POSITIVE integer expression snapped once to the 1e-6
    grid (the q_text_pmi / q_sample_dsir recipe)."""
    return (
        f"CAST(floor(ln(CAST({x} AS DOUBLE)) * {_KL_LN_SCALE} + 0.5)"
        " AS BIGINT)"
    )


def _kl_oracle() -> str:
    lam = (
        f"{_kl_lnq('cs + 1')} - {_kl_lnq('ts + ' + str(KL_BUCKETS))}"
        f" - {_kl_lnq('cc + 1')} + {_kl_lnq('tc + ' + str(KL_BUCKETS))}"
    )
    return f"""
    WITH d AS (
      SELECT source, string_split(text, ' ') AS l FROM documents
    ),
    bg AS (
      SELECT source,
             ({hex12_sql("md5(pair)")}) % {KL_BUCKETS} AS bucket
      FROM (
        SELECT source,
               unnest(list_transform(list_slice(l, 1, len(l) - 1),
                                     (x, i) -> x || '|' || l[i + 1])) AS pair
        FROM d WHERE len(l) >= 2
      )
    ),
    sb AS (SELECT source, bucket, CAST(count(*) AS BIGINT) AS n
           FROM bg GROUP BY source, bucket),
    spine AS (
      SELECT s.source, CAST(u.i AS BIGINT) AS bucket
      FROM (SELECT DISTINCT source FROM sb) s,
           UNNEST(range(0, {KL_BUCKETS})) AS u(i)
    ),
    cb AS (SELECT bucket, CAST(sum(n) AS BIGINT) AS cc FROM sb GROUP BY bucket),
    st AS (SELECT source, CAST(sum(n) AS BIGINT) AS ts FROM sb GROUP BY source),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS tc FROM sb),
    terms AS (
      SELECT sp.source, st.ts,
             coalesce(sb.n, 0) AS cs, coalesce(cb.cc, 0) AS cc, tot.tc
      FROM spine sp
      LEFT JOIN sb ON sb.source = sp.source AND sb.bucket = sp.bucket
      LEFT JOIN cb ON cb.bucket = sp.bucket
      JOIN st ON st.source = sp.source
      CROSS JOIN tot
    )
    SELECT source,
           CAST(max(ts) AS BIGINT) AS n_grams,
           CAST(greatest(sum((cs + 1) * ({lam})), 0)
                // (max(ts) + {KL_BUCKETS}) AS BIGINT) AS kl_micronat
    FROM terms GROUP BY source
"""


@query("q_mix_kl_divergence", _kl_oracle())
def q_mix_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence from the corpus mix, KL(source ||
    corpus), over the {KL_BUCKETS}-bucket hashed word-bigram space
    (the q_sample_dsir feature grid) — the domain-skew readout a data
    mixer reads next to token shares: token budgets say how MUCH each
    source contributes, this says how DIFFERENT each source's content
    distribution is from the blend (high-KL sources are the
    upweighting candidates DoReMi-style reweighting and DSIR target
    selection act on). +1 smoothing on both sides over the FULL bucket
    spine, so zero-count buckets contribute their smoothed mass
    exactly.

    Determinism: counts exact; each of the four ln terms snapped once
    to the 1e-6 grid, so every per-bucket term is (cs+1) * integer;
    the bucket sum is exact BIGINT, divided ONCE by the smoothed total
    (floor). KL >= 0 analytically; grid rounding can push the numerator
    a few micro-nats below zero for a source identical to the blend, so
    both engines clamp at 0 BEFORE the division (floor-vs-trunc
    division of negatives differs across engines; the clamp makes the
    question moot).

    Scale shape: the q_sample_dsir plan minus the per-doc pass — one
    tokenize + (source, bucket) hash agg, then EVERYTHING downstream is
    sources x {KL_BUCKETS} control plane (the spine, the corpus
    marginal, the totals). One corpus scan at 100 TB."""
    d = t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    pairs = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat(a, F.lit("|"), b),
    )
    bg = (
        d.where(n >= 2)
        .select("source", F.explode(pairs).alias("pair"))
        .select(
            "source",
            F.expr(f"({hex12_sql('md5(pair)')}) % {KL_BUCKETS}").alias("bucket"),
        )
    )
    sb = bg.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    # r12 (guide §2.4 — share the exchange, don't re-derive the input):
    # the old form referenced sb FIVE times (spine sources, the left
    # join, the per-bucket marginal, the per-source total, the corpus
    # total), so Catalyst duplicated the whole scan→tokenize→explode→
    # md5 subtree five times (10 parquet scans in the physical plan).
    # Everything downstream of sb is sources×{KL_BUCKETS} control
    # plane, so instead: collapse sb to ONE row per source (bucket→n
    # map + total), explode the dense bucket grid from a sequence(), and
    # read the corpus marginals off the grid itself with two chained
    # windows (cc per bucket, tc global — the global window is over the
    # bounded grid, never the corpus). Identical cs/cc/ts/tc values ->
    # identical lam -> identical hash; one corpus scan instead of five.
    src = sb.groupBy("source").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("bucket"), F.col("n")))
        ).alias("m"),
        F.sum("n").cast("long").alias("ts"),
    )
    grid = (
        src.select(
            "source",
            "ts",
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.lit(KL_BUCKETS - 1).cast("long"))
            ).alias("bucket"),
            "m",
        )
        .select(
            "source",
            "ts",
            "bucket",
            F.coalesce(F.element_at("m", F.col("bucket")), F.lit(0)).alias("cs"),
        )
        .withColumn("cc", F.sum("cs").over(Window.partitionBy("bucket")))
        .withColumn("tc", F.sum("cs").over(Window.partitionBy()))
    )
    lam = (
        f"{_kl_lnq('cs + 1')} - {_kl_lnq('ts + ' + str(KL_BUCKETS))}"
        f" - {_kl_lnq('cc + 1')} + {_kl_lnq('tc + ' + str(KL_BUCKETS))}"
    )
    return grid.groupBy("source").agg(
        F.max("ts").cast("long").alias("n_grams"),
        F.expr(
            f"CAST(greatest(sum((cs + 1) * ({lam})), 0)"
            f" DIV (max(ts) + {KL_BUCKETS}) AS BIGINT)"
        ).alias("kl_micronat"),
    )
