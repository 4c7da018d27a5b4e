"""Planner-configuration independence: results must not depend on how
the engine schedules or adapts the plan.

The differential harness proves Spark == DuckDB under ONE engine
configuration. This tier proves the Spark side is also invariant to
the knobs a cluster operator actually turns — AQE on/off and the
shuffle partition count — by re-running a family-spanning sample of
keys on a second SparkSession (isolated SQLConf, same JVM) configured
differently and comparing canonical row sets. Any operator leaking
partition-count dependence (per-partition ids, accumulation-order
floats, first()-style nondeterminism) fails here even though both
configurations would individually hash-match some oracle run.
"""

from __future__ import annotations

import pytest

import pyspark.errors.utils
from pyspark.errors import IllegalArgumentException

from jsmr_spark import session
from jsmr_spark.registry import get_query
from jsmr_spark.session import conf_override, ensure_engine_confs, get_spark
from tests.conftest import SF_DIR, canon_rows

# One representative per family: scan-agg, multiway join, window,
# banded dedup, tf-idf text, inlined-probe similarity, iterative
# clustering, windowed-fold EWMA, salted skew agg, hash-ranked sample,
# null-aware anti join, constraint report.
KEYS = [
    "q_agg_q1",
    "q_join_multiway",
    "q_win_rank",
    "q_dedup_minhash",
    "q_text_tfidf",
    "q_sim_cosine_topk",
    "q_kmeans_lloyd",
    "q_ts_ewma",
    "q_agg_skew_salted",
    "q_sample_reservoir",
    "q_join_null_aware",
    "q_quality_constraints",
    # side-effect + Python-surface families: the clustered sink's
    # zone maps, the materialized-edge triangle count, the Arrow
    # phash map, the funnel chain, and the two newest analytics keys
    "sink_zorder",
    "q_graph_triangles",
    "q_multimodal_phash",
    "q_funnel_ordered",
    "q_stats_ttest",
    "q_path_mining",
    # round-6 operator families: sketch-as-groupBy (CMS), integer
    # priority sample, windowed top-N, tie-safe cumulative weighted
    # median, distinct-count privacy audit, bucket-blocked interval
    # join, decoded-frame scene cuts, float-order-rounded chi2, and
    # the two-input reduce-side compat join (groupByKey fan-out)
    "q_sketch_cms_topk",
    "q_sample_weighted",
    "q_stream_topk",
    "q_agg_weighted_median",
    "q_privacy_ldiv",
    "q_join_interval",
    "q_multimodal_scenecut",
    "q_stats_chi2",
    "q_mr_join",
    # batch-12 operators: two-pass exact medians over broadcast-joined
    # groups, class-keyed windowed sample membership, per-series
    # sliding quantile frames, the 9-scalar Gram collect (its sums
    # must be partition-order independent), and the bucketed cogroup
    # lane (bucket count derives from parallelism — results must not)
    "q_agg_mad",
    "q_sample_balanced",
    "q_ts_hampel",
    "q_ml_linreg",
    "q_cogrouped_map",
    # rounded-then-ranked retrieval metric and the rolled-up-series
    # lag windows (hour buckets must not depend on partitioning)
    "q_rank_mrr",
    "q_ts_acf",
    # order-statistic sketch: per-partition top-k heaps must merge to
    # the same R_k whatever the partitioning
    "q_sketch_kmv",
    # top-k over per-key counts with a broadcast 1-row global, and the
    # bucket-blocked nearest join (fanout must be partition-invariant)
    "q_skew_report",
    "q_join_asof_nearest",
    # corpus-wide ntile over the exact perplexity score: the global
    # ranking must not depend on partitioning
    "q_text_ccnet_bucket",
    # versioned-dir side effect and the triple-ntile user rollup
    "sink_vacuum",
    "q_session_rfm",
    # composed-classifier eval matrix and the broadcast-max binning
    "q_text_lang_confusion",
    "q_ml_calibration",
    # islands anchoring and the integer centroid-distance TakeOrdered
    "q_win_streaks",
    "q_embed_outliers",
    # rank-identity Gini and the quantized-ln entropy sums (both must
    # be partition-order independent by construction)
    "q_agg_gini",
    "q_text_entropy",
    # running-sum crossing census over the user dimension
    "q_agg_pareto",
    # manifest-resolved snapshot read and the digest-join dup monitor
    "source_time_travel",
    "q_dedup_rate_by_source",
    # the shingle-census novelty rollup
    "q_text_novelty",
    # cross-multiplied TVD over 1-row aggregate crossJoins
    "q_profile_drift",
    # clamp-decomposed winsorized mean (percentile broadcast join)
    "q_agg_winsorized",
    # symmetrized grid-candidate ranking
    "q_geo_knn",
    # merged-sketch inclusion-exclusion (order statistics must be
    # partition-invariant)
    "q_sketch_kmv_intersect",
    # boundary prefix sweep (net deltas per instant, tie-free)
    "q_ts_concurrency",
    # round-7 operators: quantized-ln NB scores (integer dot products
    # must be partition-order independent), neighbor-mean triangle
    # argmax, iterative peel over a checkpointed edge list, the
    # 15-moment wide aggregate, the vocabulary rank window, the
    # priority winner window, the mod-K fold census, and the sorted
    # multiset signature aggregate
    "q_ml_naive_bayes",
    "q_ts_lttb",
    "q_graph_kcore",
    "q_agg_corr_matrix",
    "q_text_vocab_coverage",
    "q_mix_dedup_priority",
    "q_split_kfold",
    "q_dedup_bag_of_words",
    # round-7 session-2 operators: bounded-round label votes (argmax
    # windows must not depend on partitioning), the cent-domain decile
    # cut, the 32-replicate bootstrap fan-out, the LSH recall join
    # pair, the broadcast-vocab OOV flag, the per-user transition lag,
    # and the two share-of-total broadcast denominators
    "q_graph_label_prop",
    "q_ml_lift",
    "q_stats_bootstrap",
    "q_dedup_recall_report",
    "q_text_oov",
    "q_ts_transitions",
    "q_ts_heatmap",
    "q_embed_dim_prune",
    # equal-width PSI halves (broadcast-max binning) and the
    # three-scan generalization ladder's chosen-level rule
    "q_ml_psi",
    "q_privacy_generalize",
    # spine-pair sign sums, binned Brier moments, the 1-row waterfill
    # cap recursion, and per-level BFS frontier set differences — all
    # must be partition-count independent
    "q_ts_mk_trend",
    "q_ml_brier",
    "q_mix_token_budget",
    "q_graph_closeness",
    # posting-list source pairs and the 3-fraction centroid argmin
    "q_mix_overlap",
    "q_ml_learning_curve",
    # the one-pass card's modal-language argmax and the log-mean sums
    "q_profile_dataset_card",
    "q_agg_geomean",
    # every remaining key of the benchmark's two workloads, so each
    # timed key is also planner-config independent: grouping sets,
    # group top-k, sessionization, word count, threshold pairs, JSON
    # functions, the mr.py jobs and the exactly-once streaming sink
    "q_agg_grouping_sets",
    "q_win_topk_group",
    "q_stream_session",
    "q_text_wordcount",
    "q_sim_threshold_pairs",
    "q_json_funcs",
    "mr_api",
    "q_mr_inverted_index",
    "stream_exactly_once_sink",
]


@pytest.fixture(scope="module")
def alt_spark(spark):
    """Second session, isolated SQLConf: AQE fully off, shuffle
    partition count deliberately small and odd-sized."""
    s2 = spark.newSession()
    ensure_engine_confs(s2)
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    s2.conf.set("spark.sql.shuffle.partitions", "5")
    return s2


@pytest.mark.parametrize("name", KEYS)
def test_result_invariant_to_planner_config(spark, alt_spark, name):
    fn = get_query(name).fn
    base = fn(spark, SF_DIR)
    alt = fn(alt_spark, SF_DIR)
    b_cols, b_rows = canon_rows(base.columns, [tuple(r) for r in base.collect()])
    a_cols, a_rows = canon_rows(alt.columns, [tuple(r) for r in alt.collect()])
    assert b_cols == a_cols
    assert b_rows == a_rows, f"{name}: result depends on planner config"


# --- The one conf path (jsmr_spark/session.py) -------------------------------


def test_ensure_engine_confs_applies_table_on_new_session(spark, monkeypatch):
    """A fresh sibling session gets every modifiable table key at its
    intended value in one apply; a static key in the table is skipped
    rather than raising, and keeps its builder-time value."""
    s2 = spark.newSession()
    table = {**session.RUNTIME_CONFS(), "spark.sql.files.openCostInBytes": "1m"}
    static = "spark.python.sql.dataFrameDebugging.enabled"
    assert not s2.conf.isModifiable(static)
    before = s2.conf.get(static)
    monkeypatch.setattr(session, "RUNTIME_CONFS", lambda: {**table, static: "true"})
    assert ensure_engine_confs(s2) is s2
    assert {k: s2.conf.get(k) for k in table} == table
    assert s2.conf.get(static) == before == "false"
    assert pyspark.errors.utils._enable_debugging_cache is False


def test_ensure_engine_confs_raises_and_does_not_memoize(spark, monkeypatch):
    """A conf the session rejects raises instead of being swallowed, and
    the failed apply is not memoized: a retry with a valid table
    applies."""
    s2 = spark.newSession()
    with monkeypatch.context() as m:
        m.setattr(session, "RUNTIME_CONFS", lambda: {"spark.sql.shuffle.partitions": "abc"})
        with pytest.raises(IllegalArgumentException):
            ensure_engine_confs(s2)
    ensure_engine_confs(s2)
    table = session.RUNTIME_CONFS()
    assert {k: s2.conf.get(k) for k in table} == table


def test_conf_override_restores_set_and_unset_keys(spark):
    """conf_override puts back exactly what it found — the old value of
    a set key, and no value at all for an unset one — whether the block
    returns or raises."""
    s2 = spark.newSession()
    was_set, was_unset = "spark.sql.shuffle.partitions", "spark.sql.sources.partitionOverwriteMode"
    s2.conf.set(was_set, "7")
    assert s2.conf.get(was_unset, None) is None
    new = {was_set: "3", was_unset: "dynamic"}

    def assert_restored():
        assert s2.conf.get(was_set, None) == "7"
        assert s2.conf.get(was_unset, None) is None

    with conf_override(s2, new):
        assert {k: s2.conf.get(k) for k in new} == new
    assert_restored()
    with pytest.raises(RuntimeError, match="inside the override"):
        with conf_override(s2, new):
            raise RuntimeError("inside the override")
    assert_restored()


def test_get_spark_again_keeps_caller_overrides(spark):
    """Fetching the session a second time must not reset the confs a
    caller changed after the first."""
    overrides = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.session.timeZone": "America/New_York",
    }
    with conf_override(spark, overrides):
        assert get_spark(spark.sparkContext.appName) is spark
        assert {k: spark.conf.get(k) for k in overrides} == overrides


def test_sink_bucketed_keeps_caller_broadcast_threshold(spark):
    """sink_bucketed disables broadcast joins only for its own join: a
    caller's threshold is still in place after the key ran."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    with conf_override(spark, {key: "1234"}):
        (row,) = get_query("sink_bucketed").fn(spark, SF_DIR).collect()
        assert row.colocated
        assert spark.conf.get(key) == "1234"


def test_sink_dynamic_overwrite_leaves_unset_mode_unset(spark):
    """sink_dynamic_overwrite switches to dynamic partition overwrite
    only for its refresh write: on a session where the mode was unset,
    it is unset again afterwards, not pinned to a value."""
    s2 = ensure_engine_confs(spark.newSession())
    key = "spark.sql.sources.partitionOverwriteMode"
    assert s2.conf.get(key, None) is None
    assert get_query("sink_dynamic_overwrite").fn(s2, SF_DIR).count() > 0
    assert s2.conf.get(key, None) is None
