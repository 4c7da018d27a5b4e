"""Scale probe: replicate the sf0.1 fixtures 10x (≈sf1: 6M lineitem
rows) into /tmp with shifted keys, run the heavy operators, and record
wall-clocks next to their sf0.1 numbers -> SCALE.md.

The point is the SHAPE of the scaling curve, not absolute speed: a
hash-agg or keyed join should scale ~linearly in rows; anything
super-linear (all-pairs leakage, driver collection, broadcast of a
grown side) shows up immediately as a >>10x jump.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPLICAS = 10
BASE = "/root/testdata/sf0.1"
OUT_DIR = "/tmp/jsmr_scale_sf1"

PROBES = ["q_agg_q1", "q_join_multiway", "q_win_topk_group", "q_stream_session",
          "q_text_tfidf", "q_dedup_minhash", "q_agg_grouping_sets", "q_join_smj",
          "q_dedup_clusters", "q_dedup_clusters_lsh", "q_agg_skew_salted", "q_split_train",
          "q_dedup_simhash", "q_rollup_chain",
          "q_retention_cohort", "q_mix_sources", "q_dedup_keep_canonical",
          "q_embed_normalize", "q_dedup_latest", "q_scrub_redact",
          # round-3 additions (VERDICT r3 #6): the incremental-dedup
          # claim, the broadcast decontam semi-join, the compaction
          # rewrite, and the probe-pruned IVF path
          "q_merge_dedup", "q_text_decontam", "sink_compact", "q_sim_ann_ivf",
          # round-4 additions: quantized ANN scan, CDC merge join,
          # 6-table broadcast-chain join, bigram LM build, late batch
          # (composite joins, binary dedup, per-partition compaction,
          # the full curation chain)
          "q_sim_ann_pq", "q_upsert_merge", "q_tpch_q5", "q_text_ngram_lm",
          "q_tpch_q10", "q_tpch_q18", "q_multimodal_dedup",
          "sink_compact_partitioned", "q_pipeline_end2end",
          # round-4 batch 3: chunk-census line dedup, OHLC resample,
          # SCD2 windows, blocked fuzzy join, scan-agg TPC-H shapes,
          # and the exactly-once sink (side-effect wall, like
          # sink_compact: real micro-batches at 10x the rows)
          "q_text_line_dedup", "q_ts_resample", "q_scd2_history",
          "q_join_fuzzy", "q_tpch_q6", "q_tpch_q19",
          "stream_exactly_once_sink",
          "q_graph_pagerank", "q_tpch_q4", "q_tpch_q13",
          "q_tpch_q7", "q_tpch_q15", "q_tpch_q17", "q_tpch_q22",
          "q_sketch_bitmap_distinct", "stream_cdc_apply",
          "q_sim_maxsim", "source_python_datasource", "q_graph_reachability",
          "q_jobspec_pipeline", "source_json_corrupt", "q_curation_funnel",
          "q_tpch_q8", "q_tpch_q21", "q_ts_interpolate",
          # derived-partsupp TPC-H shapes (queries/tpch_partsupp.py):
          # the view is itself a keyed aggregate over lineitem, so each
          # probe covers derivation + the query's own joins
          "q_tpch_q2", "q_tpch_q9", "q_tpch_q11", "q_tpch_q16", "q_tpch_q20",
          # round-4 batch 5: rolling analytics (per-user window fold,
          # broadcast-stats anomaly scan, day-spine rolling distinct),
          # the bloom runtime filter, delta-maintained aggregate, the
          # z-order clustered write (side-effect wall, like
          # sink_compact), hash-ranked sampling, the grid-blocked
          # spatial join + triangle enumeration over its edges,
          # 2-iteration exact k-means, and ntile quartiles
          "q_ts_ewma", "q_ts_zscore", "q_win_rolling_distinct",
          "q_join_bloom", "q_incremental_agg", "sink_zorder",
          "q_sample_reservoir", "q_geo_gridjoin", "q_kmeans_lloyd",
          "q_graph_triangles", "q_win_ntile",
          # batch 6: ordered funnel (3 keyed min-aggregates + joins),
          # null-aware anti join, perceptual-hash map, streaming EWMA
          # (replay side-effect wall, like stream_exactly_once_sink)
          "q_funnel_ordered", "q_join_null_aware", "q_multimodal_phash",
          "stream_ewma", "q_quality_constraints", "q_stats_ttest",
          "q_path_mining", "q_pipeline_vectors",
          # round-6 additions (VERDICT r5 #8): the three unprobed
          # round-4 keys
          "q_json_variant", "q_observe_metrics", "q_join_point_in_time",
          # round-6 new operators
          "q_text_chunk", "q_embed_quantize", "q_text_perplexity",
          # round-6 batch 2: TPC-H Q3 proper, cluster-bounded SemDeDup,
          # span-duplication census, computed temperature mixture
          "q_tpch_q3", "q_dedup_semantic", "q_text_dup_spans",
          "q_mix_temperature", "q_snapshot_diff", "q_privacy_kanon",
          "q_sim_recall_report", "q_multimodal_audio",
          # round-6 batch 3: CMS heavy hitters (sketch-as-groupBy),
          # float-free weighted priority sample (narrow map -> top-k)
          "q_sketch_cms_topk", "q_sample_weighted",
          # windowed top-N (batch form; the streaming twin's cost is
          # the replay machinery, probed via stream_ewma et al.)
          "q_stream_topk",
          # round-6 batch 4: tie-safe weighted median, l-diversity,
          # hour-bucket-blocked interval overlap join
          "q_agg_weighted_median", "q_privacy_ldiv", "q_join_interval",
          "q_multimodal_scenecut", "q_stats_chi2", "q_mr_join",
          # replay side-effect wall like stream_exactly_once_sink
          "stream_stream_join",
          # nested-struct sink round-trip (side-effect wall like sink_compact)
          "sink_nested", "sink_dynamic_overwrite",
          "q_sketch_bitmap_intersect",
          # round-6 batch 5: basket-keyed pair join, per-type spine
          # backtest, persisted-HLL rollup, cogrouped searchsorted,
          # corpus KL, LATERAL decorrelation, Arrow UDF lane,
          # polymorphic UDTF, executor-staged binaryFile round-trip,
          # state-bounded streaming dedup (replay side-effect wall)
          "q_assoc_rules", "q_ts_seasonal", "q_sketch_hll_merge",
          "q_cogrouped_map", "q_corpus_divergence", "q_join_lateral",
          "q_udf_arrow", "q_udtf_analyze", "source_binaryfile",
          "stream_dedup_within_wm",
          # round-6 batch 6: existence join, FILTER-clause aggregate,
          # in-engine generator (sf-invariant by design), last-touch
          # attribution (one keyed window), weighted SSSP recursion
          "q_join_existence", "q_agg_filter_clause", "source_generate",
          "q_attribution_last_touch", "q_graph_sssp",
          # round-6 batch 7: BM25 + RRF retrieval stack, posting-list
          # containment join, crosstab contingency pivot
          "q_text_bm25", "q_rank_fusion", "q_text_containment",
          "q_stat_crosstab",
          # round-6 batch 8: exact KS / Mann-Whitney AUC over the
          # bounded cent domain, Zipf head fit, MRL truncation recall
          "q_stats_ks", "q_ml_auc", "q_text_zipf", "q_ann_mrl",
          # round-6 batch 9: dense QI x topic TVD audit, hour-spine
          # CUSUM argmax, audio silence Arrow lane, sequence-explode
          # epoch materialization
          "q_privacy_tclose", "q_ts_cusum", "q_multimodal_silence",
          "q_mix_epochs",
          # round-6 batch 10: partitioned-stage DPP round-trip (side-
          # effect wall like sink_compact), sketch accuracy gate
          # (exact sort side), outer flatten generator
          "q_join_dpp", "q_sketch_quantile_check", "q_flatten_nested",
          # round-6 batch 11: python connector sinks (side-effect
          # walls), arrow grouped map
          "sink_python_datasource", "q_grouped_arrow",
          "stream_python_sink",
          # round-6 batch 12: robust dispersion (two keyed medians +
          # broadcast joins), membership-pinned balanced sample (one
          # class-keyed window), Hampel despike (7-row frame per
          # series), exact-OLS Gram pass (9-scalar exchange); the
          # bucket-amortized cogroup lane is q_cogrouped_map, probed
          # with batch 5
          "q_agg_mad", "q_sample_balanced", "q_ts_hampel", "q_ml_linreg",
          "q_rank_mrr", "q_ts_acf", "q_sketch_kmv",
          "q_skew_report", "q_join_asof_nearest", "q_text_ccnet_bucket",
          "sink_vacuum", "q_session_rfm", "q_text_lang_confusion",
          "q_ml_calibration", "q_win_streaks", "q_embed_outliers",
          "q_agg_gini", "q_text_entropy", "q_agg_pareto",
          "source_time_travel", "q_dedup_rate_by_source", "q_text_novelty",
          "q_profile_drift", "q_agg_winsorized", "q_geo_knn",
          "q_sketch_kmv_intersect", "q_ts_concurrency",
          # round-7 operators: one-DAG NB train+score, bucket-argmax
          # downsampling, bounded peel rounds over the spatial edges
          # (density-artifact factor expected, like triangles), the
          # 15-moment wide agg, vocabulary rank window, digest-keyed
          # priority winner, fold census, sorted-multiset signature
          "q_ml_naive_bayes", "q_ts_lttb", "q_graph_kcore",
          "q_agg_corr_matrix", "q_text_vocab_coverage",
          "q_mix_dedup_priority", "q_split_kfold",
          "q_dedup_bag_of_words",
          # round-7 session-2 batch: empirical-CDF window, spatial
          # degree histogram (edge build dominates, like kcore),
          # 3-round LPA (per-round keyed join + argmax window over the
          # 25-node label table), supplier-share HHI, daily-spine
          # drawdown/extrema, 1-row ANOVA / confusion aggregates,
          # 64-bucket feature hash, hash-seeded DP release
          "q_win_cume_dist", "q_graph_degree_dist", "q_graph_label_prop",
          "q_agg_hhi", "q_ts_drawdown", "q_ts_peaks", "q_stats_anova",
          "q_ml_confusion", "q_text_feature_hash", "q_privacy_dp_count",
          # round-7 session-2 batch 2: distinct-cent-domain Theil,
          # 9-group Benford census, domain-binned lift, spine-window
          # decomposition, bounded-centroid drift join
          "q_agg_theil", "q_quality_benford", "q_ml_lift",
          "q_ts_decompose", "q_embed_drift",
          # round-7 session-2 batch 3: broadcast-sample nDCG ranking,
          # position-join PMI, contingency-table MI, length-2-path
          # link prediction (deg^2 budget, like triangles)
          "q_ml_ndcg", "q_text_pmi", "q_ml_mutual_info",
          "q_graph_link_predict",
          # round-7 session-2 batch 4: rows x 32-replicate fan-out
          # (the documented Poisson-bootstrap budget), posting-list
          # exact-truth eval (df^2 budget, the ANN-recall shape)
          "q_stats_bootstrap", "q_dedup_recall_report",
          # round-7 session-2 batch 5: vocab-window OOV, k^2 Markov
          # cells, 168-cell heatmap, 64-dim variance pruner
          "q_text_oov", "q_ts_transitions", "q_ts_heatmap",
          "q_embed_dim_prune",
          # round-7 session-2 batch 6: 10-bin PSI halves, 3-level
          # generalization ladder (three narrow scans)
          "q_ml_psi", "q_privacy_generalize",
          # round-7 session-2 batch 7: spine-pair MK trend, binned
          # Brier decomposition, 1-row waterfill rounds, bounded BFS
          # closeness (control-plane pair tables)
          "q_ts_mk_trend", "q_ml_brier", "q_mix_token_budget",
          "q_graph_closeness",
          # round-7 session-2 batch 8: source-pair posting join,
          # 3-fraction centroid build + bounded scoring join
          "q_mix_overlap", "q_ml_learning_curve",
          # the one-pass dataset card (three source-keyed rollups)
          "q_profile_dataset_card",
          # distinct-cent-domain log-mean
          "q_agg_geomean",
          # 3x codec write+scan side-effect wall (like sink_compact)
          "sink_codecs",
          # spine self-equi-join on (type, day-7)
          "q_ts_wow_growth",
          # round-10 additions: DSIR bucket-distribution selection,
          # packing-order running sum, watermark pair census
          "q_sample_dsir", "q_pack_sequences", "q_text_watermark_detect",
          # round-10 batch 2: dim-pair fan-out Gramian, source x bucket
          # spine KL, cent-census rank test
          "q_embed_gram", "q_mix_kl_divergence", "q_stats_mannwhitney",
          # round-10 batch 3: edge-degree moment join, census AP sweep,
          # double-census median/MAD
          "q_graph_assortativity", "q_ml_average_precision",
          "q_ts_mad_outliers",
          # round-11 additions: broadcast eval-gram semi-join
          # decontamination, content-hash-index incremental dedup,
          # k-group rank-census test, Brown-Forsythe variance check
          "q_text_decontam_eval", "q_dedup_snapshot_delta",
          "q_stats_kruskal", "q_stats_levene"]

KEYED = {  # table -> columns to shift per replica so keys stay distinct
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
}
SHIFT = 1_000_000_000


def build(spark):
    from pyspark.sql import functions as F

    from jsmr_spark.io import TABLES, load_table

    os.makedirs(OUT_DIR, exist_ok=True)
    for name in TABLES:
        dst = os.path.join(OUT_DIR, f"{name}.parquet")
        if os.path.exists(dst):
            continue
        df = load_table(spark, BASE, name)
        if name in ("region", "nation"):
            df.write.mode("overwrite").parquet(dst)
            continue
        parts = []
        for r in range(REPLICAS):
            d = df
            for col in KEYED.get(name, []):
                d = d.withColumn(col, F.col(col) + F.lit(r * SHIFT))
            # Content must be perturbed per replica, not just keys:
            # verbatim copies make every doc/vector gain REPLICAS-1
            # exact clones, so dedup/clustering OUTPUT grows ~R^2 and
            # the probe measures the quadratic result, not the plan.
            # Tag every 5th token (kills cross-replica shingle overlap,
            # preserves within-replica near-dup structure) and mask
            # embedding dims with a replica-dependent +-30% pattern
            # (cross-replica cosine drops far below the near-dup
            # threshold; within-replica geometry is rescaled alike).
            if name == "documents" and r > 0:
                d = d.withColumn(
                    "text",
                    F.array_join(
                        F.transform(
                            F.split(F.col("text"), " "),
                            lambda x, i: F.when(
                                i % 5 == 0, F.concat(F.lit(f"r{r}x"), x)
                            ).otherwise(x),
                        ),
                        " ",
                    ),
                )
            if name == "embeddings" and r > 0:
                d = d.withColumn(
                    "embedding",
                    F.transform(
                        F.col("embedding"),
                        lambda x, i: (
                            x
                            * F.when(
                                F.pmod(i * (r + 3) + r, F.lit(7)) < 3, F.lit(1.3)
                            ).otherwise(F.lit(0.7))
                        ).cast("float"),
                    ),
                )
            parts.append(d)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        # events ts must stay raw ns-long on disk? we re-save POST-normalized
        # µs timestamps; load_table only rewrites when reading the raw
        # fixture, so point the probe at this dir via a direct reader.
        out.write.mode("overwrite").parquet(dst)
    print("staged", OUT_DIR, flush=True)


SCALE_MD = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALE.md"
)


def patch_rows(rows):
    """Subset mode: splice measured rows into the existing SCALE.md.

    Replaces the row for a key that already has one; appends new keys
    after the last table row (before the trailing narrative). Keeps the
    hand-curated narrative intact — only the full run rewrites it.
    """
    text = open(SCALE_MD).read().splitlines()
    for key, probe in rows.items():
        row = _row(key, probe)
        hits = [i for i, l in enumerate(text) if l.startswith(f"| {key} |")]
        if hits:
            text[hits[0]] = row
        else:
            last = max(i for i, l in enumerate(text) if l.startswith("| "))
            text.insert(last + 1, row)
    with open(SCALE_MD, "w") as f:
        f.write("\n".join(text) + "\n")


def _probe(name, small_fn, big_fn):
    """Time small_fn() then big_fn() (each returns a DataFrame, collected
    with toPandas) and print the pair; returns (small, big, factor)."""
    t0 = time.perf_counter()
    small_fn().toPandas()
    small = time.perf_counter() - t0
    t0 = time.perf_counter()
    big_fn().toPandas()
    big = time.perf_counter() - t0
    factor = big / small if small else float("inf")
    print(f"{name:24s} {small:7.2f}s -> {big:7.2f}s  x{factor:.1f}", flush=True)
    return small, big, factor


def _row(name, probe):
    small, big, factor = probe
    return f"| {name} | {small:.2f} | {big:.2f} | {factor:.1f} |"


def _controls(spark):
    """Controls keyed by the probe key they control, run after it:
    (row name, sf0.1 frame, 10x frame). Each holds fixed what the 10x
    staging grows by design, so its factor shows the plan's own
    scaling."""
    from jsmr_spark.queries import ann
    from jsmr_spark.queries.dedup_extra import sem_dedup_frame
    from jsmr_spark.queries.graph import triangles_frame
    from jsmr_spark.queries.ml_cluster import naive_bayes_frame
    from jsmr_spark.queries.pipeline import clusters_lsh_frame

    tag = r"(^|(?<=\s))r[0-9]{1,3}x"
    return {
        # frozen-plane CONTROL (round 6): the registered key now applies
        # planes = max(8, ceil(log2(n))) itself (see clusters_lsh_frame),
        # so its own probe row measures the adaptive rule. This control
        # re-runs the 10x corpus with the OLD frozen 8 planes to show
        # what the rule prevents (quadratic candidate growth).
        "q_dedup_clusters_lsh": (
            "q_dedup_clusters_lsh frozen8@10x (control)",
            lambda: clusters_lsh_frame(spark, BASE, ann.planes_for(8)),
            lambda: clusters_lsh_frame(spark, OUT_DIR, ann.planes_for(8)),
        ),
        # Frozen-k CONTROL for SemDeDup (round 7): the registered key now
        # computes k = clamp(ceil(n/32), 16, 4096) inside the DAG, so its
        # own probe row measures the adaptive rule. This control re-runs
        # the 10x corpus with the OLD frozen k=16 to show what the rule
        # prevents (mean cluster size growing with n, within-cluster
        # GEMM ~N^2/k).
        "q_dedup_semantic": (
            "q_dedup_semantic frozen16@10x (control)",
            lambda: sem_dedup_frame(spark, BASE, k_frozen=16),
            lambda: sem_dedup_frame(spark, OUT_DIR, k_frozen=16),
        ),
        # fixed-eval-set CONTROL for the ANN recall report: the registered
        # key's query set is every RECALL_QMODth vector, so at 10x rows the
        # exact ground-truth side is ~100x pairs (10x queries x 10x corpus)
        # BY DESIGN — the probe factor measures the scaled eval set, not
        # the plan. A deployment holds the eval slice constant; this
        # control re-runs the 10x corpus with qmod*10 (same ~query count
        # as the sf0.1 run) to show the per-query cost scaling ~linearly.
        "q_sim_recall_report": (
            "q_sim_recall_report qmod*10@10x (fixed eval set)",
            lambda: ann.recall_report_frame(spark, BASE, ann.RECALL_QMOD),
            lambda: ann.recall_report_frame(spark, OUT_DIR, ann.RECALL_QMOD * REPLICAS),
        ),
        # Vocabulary-held CONTROL for naive Bayes (VERDICT r8 #4): the 10x
        # staging tags every 5th token with an r<k>x prefix (so dedup keys
        # don't measure clone-grown output), inflating the vocab ~2.8x and
        # with it the (langs x vocab) model build — the x10.9 probe row
        # measures that staging artifact on top of the plan. This control
        # strips the tag before tokenizing AT BOTH SCALES, holding the
        # vocabulary at its base size: a flat factor here proves the
        # per-token cost is linear.
        "q_ml_naive_bayes": (
            "q_ml_naive_bayes vocab-held@10x (control)",
            lambda: naive_bayes_frame(spark, BASE, strip_token_tag=tag),
            lambda: naive_bayes_frame(spark, OUT_DIR, strip_token_tag=tag),
        ),
        # radius ~ 1/sqrt(density) demonstration for the spatial tier: the
        # 10x staging multiplies POINT DENSITY (same 1000 km domain, 10x
        # points), so fixed-radius edges grow ~100x and wedges worse — the
        # probe factor measures the synthetic domain's densification, not
        # the plan. Real geo growth adds AREA at ~constant density; the
        # equivalent control is radius/sqrt(10), which holds expected
        # neighbors per point constant. Probe-only: the registered key and
        # oracle keep TRI_RADIUS.
        "q_graph_triangles": (
            "q_graph_triangles r/sqrt10@10x",
            lambda: triangles_frame(spark, BASE),
            lambda: triangles_frame(spark, OUT_DIR, 31_623),
        ),
        # Fixed-eval-panel CONTROL for the IVF tuning curve — the
        # q_sim_recall_report control applied to its sibling: the
        # registered key's query panel is every RECALL_QMODth vector, so
        # at 10x rows the exact ground-truth side is ~100x pairs BY
        # DESIGN. This control re-runs the 10x corpus with qmod*10 (same
        # ~panel size as sf0.1) — the deployment shape, where the tuning
        # panel is a constant-size sample.
        "q_sim_ann_tune": (
            "q_sim_ann_tune fixed-panel@10x (control)",
            lambda: ann.ann_tune_frame(spark, BASE, ann.RECALL_QMOD),
            lambda: ann.ann_tune_frame(spark, OUT_DIR, ann.RECALL_QMOD * REPLICAS),
        ),
    }


def main(argv=None):
    parser = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    parser.add_argument(
        "--keys",
        nargs="+",
        metavar="KEY",
        help="probe only these keys (and their controls) and splice their "
        "rows into SCALE.md, keeping its narrative",
    )
    subset = parser.parse_args(argv).keys

    from jsmr_spark import io as jio
    from jsmr_spark.registry import canonical_specs
    from jsmr_spark.session import get_spark

    specs = canonical_specs()
    unknown = [k for k in subset or () if k not in specs]
    if unknown:
        parser.error(f"unknown keys: {' '.join(unknown)}")

    spark = get_spark("scale_probe")
    spark.sparkContext.setLogLevel("ERROR")
    build(spark)

    # The staged events table already carries µs timestamps; patch the
    # loader's normalization to skip it for this dir.
    orig_load = jio.load_table

    def load_patched(sp, sf_dir, name):
        if sf_dir == OUT_DIR:
            return sp.read.parquet(jio.table_path(sf_dir, name))
        return orig_load(sp, sf_dir, name)

    jio.load_table = load_patched
    import jsmr_spark.queries.common as common

    common.t = lambda sp, sf, name: load_patched(sp, sf, name)

    lines = ["# SCALE — 10x probe (tools/scale_probe.py)", "",
             f"sf0.1 replicated {REPLICAS}x with shifted keys and per-replica content",
             "perturbation (tagged tokens / masked embedding dims — verbatim replicas",
             "would add R-1 exact clones per doc and the dedup keys would measure their",
             "own quadratically-grown OUTPUT, not the plan), ≈sf1, 6M lineitem rows, local[32].",
             "Linear-ish scaling (~<=10x wall-clock at 10x rows, minus fixed overhead) = the plan holds.", "",
             "Exception by design: q_dedup_clusters generates its edges by EXACT all-pairs",
             "cosine (block GEMM) — pair count is O(N^2), so 10x rows is ~100x compute and a",
             "super-linear factor is the true cost of exactness, not a plan bug. The 100 TB",
             "path swaps the edge source for an ANN prefilter (q_sim_ann_lsh / q_sim_ann_ivf)",
             "re-ranked by the same exact kernel; the CC loop itself is one keyed shuffle per",
             "round either way. That shipped path IS probed below: q_dedup_clusters_lsh",
             "(bucketed candidate edges + the same CC loop). Since round 6 the registered",
             "key applies the deployment rule ITSELF: planes = max(8, ceil(log2(n_docs))),",
             "computed as a 1-row broadcast aggregate inside the DAG and mirrored by the",
             "oracle's scalar subquery, so expected bucket size stays ~1 and candidate",
             "pairs ~linear in n with no hand-edited config. Its probe row below measures",
             "the adaptive rule; the paired 'frozen8 control' row re-runs the same",
             "10x corpus with the OLD fixed 8 planes to show what the rule prevents",
             "(within-bucket candidate pairs growing ~N^2/256).", "",
             "sink_compact's wall is dominated by its side effect (write 64 fragment files,",
             "re-read, rewrite compacted) — a linear-in-rows factor is the expected result.",
             "q_merge_dedup's claim is stronger than linear: candidates are new-batch x",
             "indexed-corpus band collisions only, so its cost tracks the NEW slice, not the",
             "corpus (both sides grow 10x here, so ~linear is the honest expectation).", "",
             "q_graph_triangles' frozen-radius factor is a DENSITY artifact, not a plan",
             "property: the staging replicates points into the SAME 1000 km domain, so 10x",
             "rows = 10x points/km^2, fixed-radius edges grow ~100x and wedges ~1000x. Real",
             "geo data grows in area at roughly constant density; the paired",
             "'r/sqrt10@10x' row holds expected neighbors per point constant (the density",
             "control) and shows the oriented-wedge plan itself scaling near-linearly.", "",
             "| key | sf0.1 s | 10x s | factor |", "|---|---|---|---|"]
    if subset is not None:
        # warm the JVM AND the Python-worker/Arrow lane with an untimed
        # pass of each subset key, so its sf0.1 number is steady-state
        # (the full run amortizes startup over 90 keys)
        specs["q_agg_q1"].fn(spark, BASE).toPandas()
        for name in subset:
            specs[name].fn(spark, BASE).toPandas()

    rows = {}
    for name in subset if subset is not None else PROBES:
        fn = specs[name].fn
        rows[name] = _probe(
            name, lambda: fn(spark, BASE), lambda: fn(spark, OUT_DIR)
        )
        lines.append(_row(name, rows[name]))
    for key, (name, small_fn, big_fn) in _controls(spark).items():
        if key in rows:
            rows[name] = _probe(name, small_fn, big_fn)
            lines.append(_row(name, rows[name]))

    if subset is not None:
        patch_rows(rows)
        return

    adaptive = rows["q_dedup_clusters_lsh"][2]
    frozen_ctl = rows["q_dedup_clusters_lsh frozen8@10x (control)"][2]
    lines += [
        "",
        f"Reading the planes-rule pair (round 6): the ADAPTIVE registered key costs",
        f"x{adaptive:.1f} at 10x rows (2000 docs -> 11 planes; 20000 docs -> 15 planes; expected",
        "bucket size ~1 both times, so candidate pairs stay ~linear); the frozen-8",
        f"control on the identical corpus costs x{frozen_ctl:.1f} (within-bucket pairs ~N^2/256).",
        "The residual adaptive factor is linear-but-bigger work, not pair blowup: 10x",
        "rows through the 64-dim bucketing map, the exact re-rank of surviving edges,",
        "and the CC loop's per-round keyed shuffle over 10x nodes. The lever is now in",
        "code, not in prose — no config edit is needed at any corpus size (bounded by",
        "MAX_PLANES=32, i.e. 4G docs; past that, raise one constant).",
        "",
        "stream_ewma's round-6 drop (5.1 -> ~2.5): the replay clamp that pins",
        "streaming state partitions (AQE never applies to streaming) was a FIXED 8,",
        "which also capped the stateful pandas lane at 8 parallel Python workers —",
        "10x rows serialized through the same 8 workers. The clamp now scales with",
        "the staged row count (~rows/20k, bounded 8..32), the once-per-stream sizing",
        "a real deployment does at first start. Batch count stays input-independent",
        "(6 chunks); measured wall at 10x decomposes as ~18s staging+fixed +",
        "~1s/batch python-stateful work, both partition-parallel.",
        "",
        "Reading the recall-report pair (round 6): q_sim_recall_report's query set",
        "is every 50th vector BY DESIGN (the eval grows with the corpus), so at 10x",
        "rows the exact ground-truth side is ~100x pairs (10x queries x 10x corpus)",
        "— its probe row measures that scaled eval, not the serving plan. The paired",
        "'qmod*10' control holds the eval slice at the sf0.1 query count (the",
        "deployment shape: a constant-size sampled eval however big the corpus),",
        "showing per-query cost linear in corpus size, dominated by the brute-force",
        "baseline the report exists to provide.",
    ]

    with open(SCALE_MD, "w") as f:
        f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
