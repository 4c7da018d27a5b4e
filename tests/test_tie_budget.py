"""Runtime tripwires for the documented int64 tie budgets (VERDICT r11 #4).

q_stats_mannwhitney and q_stats_kruskal carry an exact-BIGINT tie term
Σ(t³−t) over the cent census. The docstrings document the budget — every
per-value tie group t < 2,097,152 rows and the sum < 2^63 — under which
both engines agree bit-for-bit; beyond it DuckDB raises on BIGINT
overflow while Spark wraps SILENTLY. Prose is not a guard: these tests
fail loudly if a future fixture or scale violates the bound.

Two layers:

1. Census budget assertions at sf0.1 — the largest persistent fixture,
   100x the default test scale — with an explicit >=100x headroom
   factor. Tie-group sizes grow ~linearly with corpus size at fixed
   value-domain density, so >=100x headroom at sf0.1 certifies the
   budget through the 10x scale probe (~sf1) and flags any fixture
   regeneration that concentrates values long before the wrap point.

2. An ANSI-mode execution of both keys at sf0.1
   (spark.sql.ansi.enabled=true, runtime-settable): under ANSI, Spark
   RAISES on int64 overflow exactly like DuckDB, so the silent-wrap
   failure mode is structurally unreachable during the run. Results are
   additionally cross-checked equal to a run with ANSI explicitly off
   (ANSI must not change in-budget arithmetic).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jsmr_spark.io import load_table
from jsmr_spark.registry import get_query
from jsmr_spark.session import conf_override

from tests.conftest import SF01_DIR

# Docstring bounds (timeseries.py q_stats_mannwhitney / q_stats_kruskal).
PER_GROUP_BOUND = 2_097_152  # t³ fits int64 per tie group
SUM_BOUND = 2**63  # Σ(t³−t) accumulator
HEADROOM = 100  # certifies the 10x probe scale from sf0.1 evidence


def _census_budget(spark, where_types):
    """(max tie-group size, exact tie sum) of the cent census."""
    ev = load_table(spark, SF01_DIR, "events")
    if where_types is not None:
        ev = ev.where(F.col("event_type").isin(*where_types))
    cnt = (
        ev.groupBy(F.round(F.col("value") * 100).cast("long").alias("vc"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .agg(
            F.max("c").alias("tmax"),
            F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c")).alias(
                "tie_sum"
            ),
        )
        .collect()[0]
    )
    return cnt.tmax, cnt.tie_sum


@pytest.mark.parametrize(
    "label,types",
    [
        ("mannwhitney(purchase,view)", ("purchase", "view")),
        ("kruskal(all types)", None),
    ],
)
def test_tie_budget_headroom_sf01(spark, label, types):
    tmax, tie_sum = _census_budget(spark, types)
    assert tmax is not None and tmax > 0, f"{label}: empty census at sf0.1"
    assert tmax * HEADROOM < PER_GROUP_BOUND, (
        f"{label}: max tie group {tmax} is within {HEADROOM}x of the "
        f"documented per-group int64 bound {PER_GROUP_BOUND} — the exact "
        "tie term no longer has certified headroom at the 10x probe scale"
    )
    assert tie_sum * HEADROOM < SUM_BOUND, (
        f"{label}: tie sum {tie_sum} is within {HEADROOM}x of 2^63"
    )


def test_tie_keys_under_ansi_mode(spark):
    """Both rank-test keys run at sf0.1 with ANSI overflow checking ON:
    any int64 wrap raises here (as DuckDB would) instead of silently
    corrupting z / hc4. Results with ANSI explicitly OFF must be
    identical (Spark 4 defaults ANSI on, so both modes are pinned)."""
    keys = ("q_stats_mannwhitney", "q_stats_kruskal")

    def run(ansi: str) -> dict:
        with conf_override(spark, {"spark.sql.ansi.enabled": ansi}):
            return {k: get_query(k).fn(spark, SF01_DIR).collect() for k in keys}

    plain, ansi = run("false"), run("true")
    for k in keys:
        assert ansi[k] == plain[k], f"{k}: ANSI mode changed results"
