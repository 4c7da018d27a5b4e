"""Physical-plan assertions (SURVEY.md §2.B notes, §7.4).

Correctness says the operator works; these say it would still be the
RIGHT plan at 100 TB: filters reach the parquet scan, projections
prune columns, dimension joins broadcast, hinted strategies stick, and
top-k never global-sorts.
"""

from __future__ import annotations

from jsmr_spark.registry import get_query
from jsmr_spark.session import conf_override
from tests.conftest import SF_DIR


def _plan(spark, name: str) -> str:
    df = get_query(name).fn(spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_pushdown_and_pruning(spark):
    plan = _plan(spark, "q_scan_project")
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)" in plan, plan
    read = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "l_extendedprice" in read and "l_shipdate" not in read, read


def test_broadcast_join_strategy(spark):
    plan = _plan(spark, "q_join_broadcast")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_smj_hint_sticks(spark):
    assert "SortMergeJoin" in _plan(spark, "q_join_smj")


def test_shuffle_hash_hint_sticks(spark):
    plan = _plan(spark, "q_join_shuffle_hash")
    assert "ShuffledHashJoin" in plan


def test_topk_uses_take_ordered(spark):
    plan = _plan(spark, "q_topk")
    assert "TakeOrderedAndProject" in plan


def test_ranked_keys_never_global_sort(spark):
    """Every rank<=k key must cut to k via TakeOrderedAndProject (plus
    a k-row window), never a global sort of the full input."""
    for name in (
        "q_sim_cosine_topk",
        "q_knn_label",
        "q_join_multiway",
        "q_sort_multi",
        "q_sim_ann_lsh",
    ):
        plan = _plan(spark, name)
        assert "TakeOrderedAndProject" in plan, f"{name}: no TakeOrderedAndProject"


def test_flagship_partial_aggregation(spark):
    """Q1 must partial-aggregate before the exchange (map-side combine)."""
    plan = _plan(spark, "q_agg_q1")
    assert plan.count("HashAggregate") >= 2, plan


def test_similarity_probe_is_lazy_broadcast(spark):
    """The probe side is a lazy pre-normed 1-row broadcast (r12: no
    driver-side .head() job at DataFrame build time), attached by a
    bounded BroadcastNestedLoopJoin — the corpus side must stay a pure
    narrow map into TakeOrdered with ZERO shuffle Exchanges."""
    plan = _plan(spark, "q_sim_cosine_topk")
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    # broadcast exchanges only — a shuffle would mean the corpus moved
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_theta_join_is_banded_equi_join(spark):
    """The band predicate must ride an equi-join on the bin key, never a
    nested-loop compare of the full sides."""
    plan = _plan(spark, "q_join_theta")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Join" in plan


def test_decimal_agg_is_partial(spark):
    """DECIMAL sums must keep map-side partial aggregation."""
    plan = _plan(spark, "q_agg_decimal")
    assert plan.count("HashAggregate") >= 2, plan


def test_pack_tokens_window_is_keyed(spark):
    """The packing prefix-sum must run under a partitioned window — a
    global (empty-partition) running sum would serialize the corpus."""
    plan = _plan(spark, "q_pack_tokens")
    assert "SinglePartition" not in plan, plan


def test_gap_fill_spine_is_broadcast(spark):
    """The generated day spine (O(days)) must broadcast against the
    daily aggregate — never shuffle the fact side for a calendar."""
    plan = _plan(spark, "q_gap_fill")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_ivf_assignment_broadcasts_centroids(spark):
    """IVF list assignment must broadcast the centroid codebook."""
    plan = _plan(spark, "q_sim_ann_ivf")
    assert "BroadcastExchange" in plan, plan


def test_tpch_q5_broadcasts_dim_chain(spark):
    """region->nation->supplier must collapse into broadcast builds; the
    fact side shuffles only for the orders/customer equi-joins."""
    plan = _plan(spark, "q_tpch_q5")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_pq_ann_rerank_is_take_ordered(spark):
    """Both the quantized candidate cut and the exact re-rank must be
    TakeOrderedAndProject, never a global sort of the corpus."""
    plan = _plan(spark, "q_sim_ann_pq")
    assert "TakeOrderedAndProject" in plan, plan


def test_upsert_merge_is_single_keyed_join(spark):
    """The CDC merge must be ONE full-outer keyed join (shuffle on the
    merge key), not a nested-loop or repeated scans of the base."""
    plan = _plan(spark, "q_upsert_merge")
    assert "FullOuter" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, plan


def test_ngram_lm_partial_aggregates(spark):
    """The (lang,bigram) count must map-side combine before its
    exchange — the vocabulary shuffle is the only wide stage."""
    plan = _plan(spark, "q_text_ngram_lm")
    assert plan.count("HashAggregate") >= 2, plan


def test_runtime_bloom_filter_injection(spark):
    """Catalyst's InjectRuntimeFilter gives the 'bloom-prefilter the big
    fact by the selective dim' pattern natively: with the feature on, a
    selective orders->lineitem join must plan a bloom_filter_agg on the
    creation side and apply it on the fact scan side — no custom
    operator needed at 100 TB, just the conf."""
    from pyspark.sql import functions as F

    from jsmr_spark.io import load_table
    from tests.conftest import SF_DIR

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        # force a non-broadcast join so the runtime filter is the lever
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    with conf_override(spark, confs):
        o = load_table(spark, SF_DIR, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, SF_DIR, "lineitem")
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
    assert "bloom_filter_agg" in plan, plan


def test_aqe_skew_join_split(spark):
    """AQE must split a pathologically skewed join partition at runtime
    (the 'one hot key' case salting handles manually in q_join_skew_salted
    — this proves the automatic lever also engages). Skew detection only
    runs on materialized shuffle stats, so execute the join and read the
    final adaptive plan."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # test-scale thresholds: shuffle sizes are COMPRESSED bytes, so
        # detection needs incompressible payloads + low byte floors at
        # 100k rows (production keeps the 256MB/5x defaults)
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        # the global count after the join would otherwise veto the split
        # (extra-shuffle rule); production joins feed wider plans where
        # the split is free
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    with conf_override(spark, confs):
        # One hot key over a background of uniform keys: skew detection
        # compares each shuffle partition against the MEDIAN partition
        # size, so the background keys establish a small median and the
        # hot partition trips factor+threshold. md5 payloads defeat
        # shuffle compression (a constant payload compresses the hot
        # partition below the detection floor).
        def skewed(n, hot, tag):
            return spark.range(n).select(
                F.when(F.col("id") < hot, F.lit(1))
                .otherwise((F.col("id") % 32) + 2)
                .cast("int")
                .alias("k"),
                F.md5(F.concat(F.lit(tag), F.col("id").cast("string"))).alias(
                    f"p{tag}"
                ),
            )

        left = skewed(103_000, 100_000, "x")
        right = skewed(13_000, 10_000, "y")
        j = left.join(right.hint("merge"), "k").select(F.count(F.lit(1)).alias("n"))
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" in plan, plan


def test_partsupp_q2_min_join_is_hash_equi(spark):
    """Q2's decorrelated min-cost selection must be hash equi-joins on
    (partkey, cost) — never a nested loop — and the dim chain must
    broadcast; the top-100 must cut via TakeOrdered before the rank
    window."""
    plan = _plan(spark, "q_tpch_q2")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_partsupp_q9_compound_key_join(spark):
    """Q9 joins lineitem back onto the derived partsupp on the compound
    (partkey, suppkey) key — both sides must meet in ONE keyed shuffle
    join, with the part filter broadcast."""
    plan = _plan(spark, "q_tpch_q9")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    # partial aggregation before the nation x year exchange
    assert plan.count("HashAggregate") >= 2, plan


def test_partsupp_q16_not_in_is_anti_join(spark):
    """Q16's NOT IN supplier exclusion must decorrelate to a broadcast
    anti-join (suppkey is non-null), not a nested-loop NOT-IN scan."""
    plan = _plan(spark, "q_tpch_q16")
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_partsupp_q20_in_is_semi_join(spark):
    """Q20's nested IN must become a left-semi join onto supplier."""
    plan = _plan(spark, "q_tpch_q20")
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_nested_schema_pruning(spark):
    """The sink_nested read-back must push a pruned struct into the
    parquet scan: only the two narrow leaves read, the wide string
    leaves and the unread array column absent from ReadSchema."""
    import os
    import shutil
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    from jsmr_spark.io import load_table

    out = os.path.join(tempfile.gettempdir(), f"jsmr_nested_plan_{uuid.uuid4().hex[:8]}")
    try:
        load_table(spark, SF_DIR, "orders").select(
            "o_orderkey",
            F.struct(
                F.col("o_orderstatus").alias("status"),
                F.lit(1).alias("price_c"),
                F.col("o_orderpriority").alias("priority"),
                F.col("o_orderdate").cast("string").alias("odate"),
            ).alias("meta"),
            F.array(F.col("o_custkey")).alias("keys"),
        ).write.mode("overwrite").parquet(out)
        df = (
            spark.read.parquet(out)
            .select(F.col("meta.status"), F.col("meta.price_c"))
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        read = plan[plan.index("ReadSchema") :].splitlines()[0]
        assert "status" in read and "price_c" in read, read
        assert "priority" not in read and "odate" not in read, read
        assert "keys" not in read, read
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_existence_join_plans_as_existence(spark):
    """q_join_existence exists to exercise the ExistenceJoin physical
    variant — if Catalyst ever plans the IN-under-OR as something else
    (e.g. a rewritten union of semi joins), the key stops covering the
    surface it documents."""
    plan = _plan(spark, "q_join_existence")
    assert "ExistenceJoin" in plan, plan


def test_lateral_join_decorrelates(spark):
    """The correlated LATERAL subquery must decorrelate into a join —
    a plan that re-executes the subquery per outer row would be the
    nested-loop disaster the docstring promises Catalyst avoids."""
    plan = _plan(spark, "q_join_lateral")
    assert "Join" in plan
    assert "CartesianProduct" not in plan


def test_grouping_sets_family_expands_preaggregate(spark):
    """r13 (guide §2.3): GROUPING SETS / ROLLUP / CUBE must run their
    Expand over the (rf, ls) PRE-AGGREGATE, not the raw corpus —
    Expand multiplies its input once per grouping set, so raw corpus
    columns reaching it mean the whole table (and the cents cast) flow
    3-4x through the partial aggregate."""
    for name in ("q_agg_grouping_sets", "q_agg_rollup", "q_agg_cube"):
        plan = _plan(spark, name)
        assert "Expand" in plan, f"{name}: no Expand node"
        # The Expand node's projection lists must carry only
        # pre-aggregated columns — the raw price column may appear
        # below it (in the pre-aggregate) but never as Expand input.
        expand_line = next(ln for ln in plan.splitlines() if "Expand [[" in ln)
        assert "l_extendedprice" not in expand_line, f"{name}: {expand_line}"
