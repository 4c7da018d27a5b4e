"""tools/bench_all.py, the full-registry A/B/A sweep, and the argv
handling and probe list of tools/scale_probe.py.

The sweep runs on the shared test session over three keys, one of each
kind: engine-comparable (q_agg_q1), rows-only (q_agg_approx_distinct:
no oracle) and side-effect (sink_parquet: an oracle, but outside the
ratio)."""

from __future__ import annotations

import importlib.util
import os

import pytest

from jsmr_spark.registry import canonical_specs
from tests.conftest import SF_DIR

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
KEYS = ("q_agg_q1", "q_agg_approx_distinct", "sink_parquet")
# The JSON fields of the published A/B/A series (BENCH.md, VERDICT).
AB_FIELDS = {
    "sf_dir",
    "n_keys",
    "duck_total_a1",
    "duck_total_a2",
    "spark_total",
    "spark_total_steady",
    "ratio_vs_mean",
    "ratio_steady_vs_mean",
    "denominator_spread_pct",
    "load",
    "steal_pct",
}


def _load(name):
    spec = importlib.util.spec_from_file_location(name, os.path.join(TOOLS, f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def bench_all():
    return _load("bench_all")


@pytest.fixture(scope="module")
def swept(bench_all, spark, duck):
    specs = canonical_specs()
    times, env = bench_all.sweep(spark, duck, {k: specs[k] for k in KEYS}, SF_DIR)
    return specs, times, env


def test_sweep_times_every_phase(swept):
    specs, times, env = swept
    assert specs["q_agg_approx_distinct"].oracle is None
    for key in KEYS:
        t = times[key]
        assert {"build_s", "first_s", "exec_s"} <= set(t), key
        has_duck = {"duck_a1", "duck_a2"} <= set(t)
        assert has_duck == (specs[key].oracle is not None), key
        assert all(v > 0 for v in t.values()), key
    assert set(env["load"]) == {"start", "a1", "b", "a2", "b2"}
    assert set(env["steal_pct"]) == {"a1", "b", "a2", "b2"}


def test_summary_counts_only_engine_comparable(bench_all, swept):
    specs, times, env = swept
    out = bench_all.summary(times, specs, SF_DIR, env)
    assert set(out) == AB_FIELDS
    q1 = times["q_agg_q1"]
    mean = (q1["duck_a1"] + q1["duck_a2"]) / 2
    assert out["n_keys"] == 1
    assert out["duck_total_a1"] == round(q1["duck_a1"], 2)
    assert out["spark_total"] == round(q1["build_s"] + q1["first_s"], 2)
    assert out["spark_total_steady"] == round(q1["exec_s"], 2)
    assert out["ratio_vs_mean"] == round((q1["build_s"] + q1["first_s"]) / mean, 2)
    assert out["ratio_steady_vs_mean"] == round(q1["exec_s"] / mean, 2)


def test_markdown_and_bench_md(bench_all, swept, tmp_path, monkeypatch):
    _, times, _ = swept
    recs, md_table = bench_all.table(times)
    table = md_table.splitlines()
    assert len(table) == 2 + len(KEYS)
    # rows-only last, with neither a DuckDB time nor a ratio
    assert table[-1].startswith("| q_agg_approx_distinct | - |")
    assert recs[-1][0] == "q_agg_approx_distinct" and recs[-1][4] is None
    assert sum("| - |" in r for r in table) == 1

    md = tmp_path / "BENCH.md"
    md.write_text(
        "# old title\n\nProtocol: old.\n\nA curated note.\n\n"
        "| key | old |\n| x | 1 |\n\n## Kept section\nkept body\n"
    )
    monkeypatch.setattr(bench_all, "BENCH_MD", str(md))
    oracle_times = {k: v for k, v in times.items() if "duck_a1" in v}
    bench_all.write_bench_md(oracle_times, SF_DIR)
    text = md.read_text()
    assert "# old title" not in text and "Protocol: old." not in text
    assert "| key | old |" not in text
    assert "\n\nA curated note.\n\n| key | duckdb_s |" in text
    assert text.endswith("\n\n## Kept section\nkept body\n")
    assert "| **TOTAL (engine-comparable: 1 pure-query keys," in text
    for key in oracle_times:
        assert f"| {key} | " in text


def test_select_keys(bench_all):
    specs = canonical_specs()
    oracle = sorted(n for n, s in specs.items() if s.oracle is not None)
    assert bench_all.select(specs, [], set()) == oracle
    side = bench_all.select(specs, ["sink_", "source_", "stream_"], set())
    assert side == sorted(n for n in specs if n.startswith(bench_all.SIDE_EFFECT))
    # an exact key names that key only, even where it prefixes others
    assert "q_tpch_q20" in specs
    assert bench_all.select(specs, ["q_tpch_q2"], set()) == ["q_tpch_q2"]
    assert bench_all.select(specs, ["q_tpch_q2", "q_tpch_q2"], set()) == ["q_tpch_q2"]
    with pytest.raises(KeyError):
        bench_all.select(specs, ["no_such_key_"], set())
    eval_keys = {n for n, s in specs.items() if s.eval_tier}
    assert eval_keys
    assert bench_all.excluded(specs, "eval_tier,q_agg_q1") == eval_keys | {"q_agg_q1"}


@pytest.mark.parametrize("tool", ["bench_all", "scale_probe"])
def test_argv_is_parsed(tool):
    main = _load(tool).main
    with pytest.raises(SystemExit) as bad:
        main(["--no-such-flag"])
    assert bad.value.code == 2
    with pytest.raises(SystemExit) as help_:
        main(["--help"])
    assert help_.value.code == 0


def test_scale_probes_are_distinct():
    """Each probe key is timed once per scale and gets one SCALE.md row."""
    probes = _load("scale_probe").PROBES
    assert len(probes) == len(set(probes))
