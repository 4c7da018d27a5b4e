"""The full-registry sweep: selected keys timed through DuckDB and
Spark in ONE process, one SparkSession and one DuckDB connection,
measured A/B/A after one untimed warm pass of both engines:

  phase A1: every oracle once through DuckDB         -> duck_a1
  phase B : every key built (build_s), then executed
            once (first_s) through Spark             -> spark_s
  phase A2: every oracle once through DuckDB         -> duck_a2
  phase B2: every key re-executed on its PRE-BUILT
            DataFrame, released per key              -> exec_s

One pinned run, because per-key rows stitched from different sessions
compare different machine states (the r4->r6 "DuckDB total halved"
swing). B2 runs AFTER A2, not inside the A/B/A sandwich: the first r12
attempt put it between B and A2, and the extra JVM residency +
page-cache churn inflated DuckDB's A2 by 40-60 % on identical SQL.
Phase B includes Python plan construction + Catalyst analysis (a
~0.5 s/key fixed cost at local scale, the r11 diagnosis); B2 times
scan+shuffle+agg+Arrow transfer only, the component a 100 TB
projection extrapolates from (VERDICT r11 #3).

The JSON's ratios count only engine-comparable keys (an oracle, and
not sink_/source_/stream_, whose ratio prices a side effect, not the
engine) over mean(A1, A2); |A1 - A2| brackets the within-run noise on
the denominator. Those keys run all phases first, on their own; the
other selected keys then get their own warm pass and phases. os.getloadavg() at every phase boundary (`load`) and
per-phase CPU steal (`steal_pct`, /proc/stat field 8: hypervisor time
taken from this VM) let a breached run carry its own evidence of
whether the slowdown was exogenous.

Usage:
  python tools/bench_all.py                  every oracle key -> BENCH.md
  python tools/bench_all.py sink_ source_ stream_
  python tools/bench_all.py q_agg_q1 q_tpch_q5
Positional args name canonical keys or key prefixes (rows-only keys
get no DuckDB time). A run with a key filter or AB_EXCLUDE prints a
markdown table of its keys instead of rewriting BENCH.md. Every run
prints one JSON line last.

Environment: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1);
AB_EXCLUDE, comma-separated keys to drop, where the tokens `eval_tier`
and `quadratic_oracle` expand to exactly the registry's flag sets (the
10x protocol is AB_EXCLUDE=eval_tier,quadratic_oracle: those keys
have a by-design-quadratic DuckDB oracle, and excluding them is
conservative for the ratio — Spark's block-GEMM beats DuckDB ~10x on
them at sf0.1); AB_WARM=spark warms only the Spark side (JVM and
codegen caches need it; DuckDB's only warm-up is the OS page cache,
which its A1 pass both builds and pays for — biasing A1 up, i.e.
against Spark's ratio: conservative).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb

from jsmr_spark.io import TABLES
from jsmr_spark.registry import canonical_specs
from jsmr_spark.session import get_spark

BENCH_MD = os.path.join(ROOT, "BENCH.md")
SIDE_EFFECT = ("sink_", "source_", "stream_")


def comparable(name: str, spec) -> bool:
    """A key the ratio counts: an oracle, and no side effect."""
    return spec.oracle is not None and not name.startswith(SIDE_EFFECT)


def select(specs: dict, patterns: list[str], exclude: set[str]) -> list[str]:
    """Keys named by `patterns` (exact key, else prefix), or every oracle
    key when there are none, minus `exclude`. Raises KeyError naming a
    pattern that matches nothing."""
    if not patterns:
        names = {n for n, s in specs.items() if s.oracle is not None}
    else:
        names = set()
        for p in patterns:
            hit = {p} if p in specs else {n for n in specs if n.startswith(p)}
            if not hit:
                raise KeyError(p)
            names |= hit
    return sorted(names - exclude)


def excluded(specs: dict, raw: str) -> set[str]:
    """AB_EXCLUDE's keys, with the `eval_tier` / `quadratic_oracle`
    tokens expanded to exactly the registry's flag sets (VERDICT r9 #3:
    nothing excluded by prose alone)."""
    out = set(filter(None, raw.split(",")))
    for flag in ("eval_tier", "quadratic_oracle"):
        if flag in out:
            out.discard(flag)
            out |= {n for n, s in specs.items() if getattr(s, flag)}
    return out


def _stat() -> tuple[int, int]:
    """(steal jiffies, total jiffies) from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def sweep(spark, con, specs: dict, sf_dir: str, warm_duck: bool = True):
    """Run the warm pass and phases A1, B, A2, B2 over `specs`.

    Returns (times, env): times[key] holds build_s, first_s and exec_s,
    plus duck_a1 and duck_a2 for keys with an oracle; env holds the
    per-phase `load` and `steal_pct`."""
    for n, s in specs.items():
        if warm_duck and s.oracle is not None:
            con.execute(s.oracle).df()
        s.fn(spark, sf_dir).toPandas()
    print("warm pass done", file=sys.stderr, flush=True)

    times: dict[str, dict[str, float]] = {n: {} for n in specs}

    def duck(field):
        for n, s in specs.items():
            if s.oracle is not None:
                t0 = time.perf_counter()
                con.execute(s.oracle).df()
                times[n][field] = time.perf_counter() - t0

    def spark_first():
        for n, s in specs.items():
            t0 = time.perf_counter()
            df = s.fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.toPandas()
            times[n]["build_s"] = t1 - t0
            times[n]["first_s"] = time.perf_counter() - t1

    def spark_steady():
        # Per key: build, execute once untimed, time ONE re-execution of
        # the same object, release it. Holding all built DataFrames at
        # once OOM'd the 8g driver JVM at the 10x probe scale (r12).
        for n, s in specs.items():
            df = s.fn(spark, sf_dir)
            df.toPandas()
            t0 = time.perf_counter()
            df.toPandas()
            times[n]["exec_s"] = time.perf_counter() - t0
            del df

    env = {"load": {"start": round(os.getloadavg()[0], 2)}, "steal_pct": {}}
    last = _stat()
    for phase, run in (
        ("a1", lambda: duck("duck_a1")),
        ("b", spark_first),
        ("a2", lambda: duck("duck_a2")),
        ("b2", spark_steady),
    ):
        t0 = time.perf_counter()
        run()
        wall = time.perf_counter() - t0
        now = _stat()
        dt = now[1] - last[1]
        env["load"][phase] = round(os.getloadavg()[0], 2)
        env["steal_pct"][phase] = (
            round(100.0 * (now[0] - last[0]) / dt, 2) if dt else 0.0
        )
        last = now
        print(f"{phase:2s} {wall:8.2f}s  load {env['load'][phase]}  steal "
              f"{env['steal_pct'][phase]}%", file=sys.stderr, flush=True)
    return times, env


def summary(times: dict, specs: dict, sf_dir: str, env: dict) -> dict:
    """The A/B/A JSON over the engine-comparable keys of `times`."""
    keys = [n for n in times if comparable(n, specs[n])]
    a1, a2, b2 = (sum(times[n][f] for n in keys) for f in ("duck_a1", "duck_a2", "exec_s"))
    b = sum(times[n]["build_s"] + times[n]["first_s"] for n in keys)
    mean = (a1 + a2) / 2

    def ratio(x, digits=2):
        return round(x / mean, digits) if mean else None

    return {
        "sf_dir": sf_dir,
        "n_keys": len(keys),
        "duck_total_a1": round(a1, 2),
        "duck_total_a2": round(a2, 2),
        "spark_total": round(b, 2),
        "spark_total_steady": round(b2, 2),
        "ratio_vs_mean": ratio(b),
        "ratio_steady_vs_mean": ratio(b2),
        "denominator_spread_pct": ratio(abs(a1 - a2) * 100, 1),
        "load": env["load"],
        "steal_pct": env["steal_pct"],
    }


def table(times: dict) -> tuple[list[tuple], str]:
    """Per-key (key, duckdb_s, spark_s, exec_s, ratio, build_s, first_s)
    records, worst spark/duckdb ratio first, and their markdown table.
    duckdb_s = min(A1, A2); it and the ratio are None for a rows-only
    key."""
    recs = []
    for n, t in times.items():
        s = t["build_s"] + t["first_s"]
        d = min(t["duck_a1"], t["duck_a2"]) if "duck_a1" in t else None
        r = None if d is None else (s / d if d > 0 else float("inf"))
        recs.append((n, d, s, t["exec_s"], r, t["build_s"], t["first_s"]))
    recs.sort(key=lambda x: (x[4] is None, -(x[4] or 0)))
    # 6-dp timings: at 3 dp a millisecond-scale key's ratio
    # recomputed from the cells picks up ~25% rounding error (ADVICE r9).
    lines = ["| key | duckdb_s | spark_s | exec_s | ratio | build_s | first_s |",
             "|---|---|---|---|---|---|---|"]
    for n, d, s, e, r, build, first in recs:
        duck, ratio = ("-", "-") if d is None else (f"{d:.6f}", f"{r:.2f}")
        lines.append(
            f"| {n} | {duck} | {s:.6f} | {e:.6f} | {ratio} | {build:.6f} | {first:.6f} |"
        )
    return recs, "\n".join(lines)


def write_bench_md(times: dict, sf_dir: str) -> None:
    """Rewrite BENCH.md's measured parts: the title, the protocol
    paragraph and the per-key table with its totals. The curated
    reading notes between protocol and table, and every section from
    the first `## ` header on (the appended A/B/A and trend records),
    are kept."""
    recs, md = table(times)
    old = open(BENCH_MD).read() if os.path.exists(BENCH_MD) else ""
    head, _, rest = old.partition("| key |")
    notes = head.split("\n\n")[2:-1]
    tail = rest[rest.index("\n## ") + 1 :] if "\n## " in rest else ""
    title = (
        f"# BENCH — measured at {sf_dir} (one same-session A/B/A run after"
        f" a warm pass, local[{os.cpu_count()}])"
    )
    protocol = (
        "Protocol: BASELINE.md, measured by tools/bench_all.py. Sorted by\n"
        "ratio (spark/duckdb), worst first. duckdb_s = min(A1, A2),\n"
        "spark_s = phase B (build_s + first_s: build, then first execution),\n"
        "exec_s = phase B2. (Protocol note: rounds 3-13 published best-of-3\n"
        "per key after a warm pass, stitched across sessions by a resume\n"
        "cache; rounds 1-2 were best-of-2 including a cold first run.)"
    )
    totals = []
    q_rows = [r for r in recs if not r[0].startswith(SIDE_EFFECT)]
    for label, rs in (
        ("**TOTAL**", recs),
        (f"**TOTAL (engine-comparable: {len(q_rows)} pure-query keys,"
         " side-effect rows excluded)**", q_rows),
    ):
        d, sp, e = (sum(r[i] for r in rs) for i in (1, 2, 3))
        totals.append(f"| {label} | {d:.3f} | {sp:.3f} | {e:.3f} | {sp/d:.2f} | | |")
    with open(BENCH_MD, "w") as f:
        f.write("\n\n".join([title, protocol, *notes, "\n".join([md, *totals])]))
        f.write("\n")
        if tail:
            f.write("\n" + tail)


def main(argv: list[str] | None = None) -> None:
    parser = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    parser.add_argument(
        "keys", nargs="*", help="canonical keys or key prefixes (default: every oracle key)"
    )
    args = parser.parse_args(argv)
    specs = canonical_specs()
    exclude = excluded(specs, os.environ.get("AB_EXCLUDE", ""))
    try:
        names = select(specs, args.keys, exclude)
    except KeyError as e:
        parser.error(f"no canonical key matches {e.args[0]!r}")
    if exclude:
        print(f"excluded ({len(exclude)}): {','.join(sorted(exclude))}",
              file=sys.stderr, flush=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    print(f"{len(names)} keys at {sf_dir}", file=sys.stderr, flush=True)

    # Perf harness: AQE off at local bench scale (see bench.py for the
    # measured rationale); override with SPARK_GRAFT_AQE=true to compare.
    os.environ.setdefault("SPARK_GRAFT_AQE", "false")
    spark = get_spark("jsmr_bench_all")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        # Spark-staged tables (the 10x probe dir) are DIRECTORIES of
        # part files; the fixture tables are single files.
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    # The ratio's keys run their own A/B/A first, so nothing another key
    # leaves behind in the session (written files, stopped streams, their
    # heap) is in their numbers; the other selected keys follow.
    warm_duck = os.environ.get("AB_WARM", "both") != "spark"
    times, env = {}, None
    for group in (
        [n for n in names if comparable(n, specs[n])],
        [n for n in names if not comparable(n, specs[n])],
    ):
        if group:
            t, e = sweep(spark, con, {n: specs[n] for n in group}, sf_dir, warm_duck)
            times.update(t)
            env = env or e
    if args.keys or exclude:
        print(table(times)[1])
    else:
        write_bench_md(times, sf_dir)
    print(json.dumps(summary(times, specs, sf_dir, env)))


if __name__ == "__main__":
    main()
