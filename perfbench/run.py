"""Benchmark for jsmr_spark: one workload per run, one client in a
closed loop, on ``local[nproc]`` in this single process.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 10 --trace 0

Run it from the repository root. The inputs are the sf0.01 fixture
tables under ``perfbench/data/sf0.01/`` (FIXTURES.md). The run starts
the engine through ``jsmr_spark.session.get_spark`` with the engine's
own defaults and reaches the queries only through
``jsmr_spark.registry.all_specs()[key].fn(spark, sf_dir).toPandas()``.
A pass builds and collects every key of the workload once, in a key
order the seed permutes per pass. A run is:

1. set-up, from process start: imports, JVM launch, session start and
   the first load of every table (``setup_s``);
2. the first pass of the fresh session (``first_pass_s``, reported
   with the per-layer metrics);
3. the correctness pass: each key collected again and compared with
   its DuckDB oracle (``check.py``), untimed;
4. untimed warm-up passes until ``WARMUP_S`` have passed, at least one;
5. timed passes until ``--seconds`` have passed, at least three
   (with ``--trace 1``, two untraced and two traced);
6. the JVM is stopped and every Spark process waited for.

Between keys the run records and clears whatever the key left
persisted, so no key reads another key's cached data.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced timed passes and prints the per-layer metrics of
the traced ones (``tracing.py``). The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
records the run's evidence (host, versions, inputs, per-key times).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback

import procfs

# Process start on the perf_counter clock, so set-up includes the
# interpreter's start-up and every import.
PROCESS_START = time.perf_counter() - procfs.process_age_s()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF_DIR = os.path.join(HERE, "data", "sf0.01")
WORK = os.path.join(ROOT, ".perfbench_work")
MIN_TIMED_PASSES = 3
# Warm-up passes run until this many seconds have passed: two passes of
# ``headline``, one of ``mapreduce_sinks``.
WARMUP_S = 5.0
TRACE_MIN_PASSES = 2  # of each kind, untraced and traced, with --trace 1


# The registry keys of each workload.
WORKLOADS = {
    # bench.py's headline keys: fixed per-query cost (py4j build,
    # Catalyst, codegen, small scans) dominates at sf0.01.
    "headline": (
        "q_agg_q1",
        "q_join_multiway",
        "q_agg_grouping_sets",
        "q_win_topk_group",
        "q_stream_session",
        "q_text_wordcount",
        "q_text_tfidf",
        "q_dedup_minhash",
        "q_sim_cosine_topk",
        "q_sim_threshold_pairs",
        "q_json_funcs",
    ),
    # The paper's MapReduce model through jsmr_spark/mr.py (per-record
    # Python map/reduce, RDD shuffles), next to a queries/lakehouse.py
    # file sink and a streaming/core.py runner (micro-batch commits,
    # checkpoints, a restart after a failure).
    "mapreduce_sinks": (
        "mr_api",
        "q_mr_inverted_index",
        "sink_zorder",
        "stream_exactly_once_sink",
    ),
}

# Unit of every metric the run prints (BENCHMARK.json lists the same).
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_s_p50": "s",
    "query_s_p90": "s",
}
PER_LAYER = {
    # The first pass of the fresh session, summed over keys. It is one
    # cold sample per run, so the host's load moves it by more than an
    # end-to-end bound may allow (its quartiles over ten seeds spread
    # 0.10-0.26 of the median); it is reported here, without a bound.
    # With --trace 1 the first pass is traced, so it includes the
    # tracer's overhead.
    "first_pass_s": "s",
    "session.get_spark_s": "s",
    "session.conf_mismatch": "count",
    "queries.build_s": "s",
    "queries.py4j_calls": "count",
    "io.load_table_calls": "count",
    "io.load_table_s": "s",
    "io.memo_hit_ratio": "ratio",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.first_s": "s",
    "exec.steady_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.input_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.slot_utilization": "ratio",
    "arrow.transfer_s": "s",
    "arrow.result_rows": "count",
    "arrow.result_mb": "MB",
    "mr.python_run_s": "s",
    "mr.tasks": "count",
    "mr.shuffle_records": "count",
    "mr.shuffle_records_per_input_record": "ratio",
    "streaming.batches": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "streaming.lifecycle_s": "s",
    "lakehouse.output_mb": "MB",
    "lakehouse.write_amplification": "ratio",
    "cache.leaked_relations": "count",
    # Peak resident memory of the process tree during an untraced timed
    # pass. With the engine's 8g driver heap it follows how far G1 has
    # grown the heap, which varies run to run by more than an end-to-end
    # bound may allow, so it is reported here, without a bound.
    "peak_rss_mb": "MB",
    "oracle.duckdb_pass_s": "s",
    "oracle.spark_over_duckdb": "ratio",
    "query.samples": "count",
    "trace.overhead_frac": "ratio",
    "env.cpus": "count",
    "env.loadavg": "load",
    "env.steal_pct": "%",
}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="length of the timed region")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_environment(tmp: str, cpus: int) -> None:
    """Engine knobs of the timed configuration (as bench.py uses it),
    and every scratch location pointed inside ``tmp``."""
    for sub in ("spark", "stream"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_AQE": "false",
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_STREAM_TMP": os.path.join(tmp, "stream"),
            "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark"),
            "PYSPARK_PYTHON": sys.executable,
            # Every JVM, the spark-submit launcher's too.
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "TMPDIR": tmp,
            "TZ": "UTC",
        }
    )
    tempfile.tempdir = None
    time.tzset()


def hd_quantile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p``-quantile: a mean of all the
    order statistics, weighted by a Beta((n+1)p, (n+1)(1-p)) density
    over their ranks. Unlike a single order statistic it does not jump
    when two values near the quantile trade places."""
    import numpy as np

    xs = np.sort(values)
    n = len(xs)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    steps = 100_000  # midpoint rule; never evaluates the density at 0 or 1
    grid = (np.arange(steps) + 0.5) / steps
    cdf = np.concatenate(([0.0], np.cumsum(np.exp((a - 1) * np.log(grid) + (b - 1) * np.log1p(-grid)))))
    cdf /= cdf[-1]
    edges = np.interp(np.arange(n + 1) / n, np.linspace(0.0, 1.0, steps + 1), cdf)
    return float(np.dot(np.diff(edges), xs))


def persisted(spark) -> int:
    """Relations in the CacheManager plus persisted RDDs."""
    cached = spark._jsparkSession.sharedState().cacheManager().cachedData().size()
    return cached + spark.sparkContext._jsc.getPersistentRDDs().size()


def clear_persisted(spark) -> None:
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(False)


class Client:
    """The single closed-loop client: builds and collects one key at a
    time, and counts attempts and failures."""

    def __init__(self, spark, specs, sf_dir: str, tracer=None) -> None:
        self.spark, self.specs, self.sf_dir, self.tracer = spark, specs, sf_dir, tracer
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def fail(self, key: str, why: str) -> None:
        self.failed += 1
        self.failures.append(f"{key}: {why}")
        print(f"FAILED {key}: {why}", file=sys.stderr, flush=True)

    def run_key(self, key: str, collect_rows: bool = False, records: list | None = None):
        """(seconds from build to result, DataFrame, result), or None if
        the key raised. The result is a pandas frame, or the collected
        rows when ``collect_rows``. A traced key appends the tracer's
        record of it to ``records``."""
        traced = self.tracer is not None and self.tracer.active
        self.attempted += 1
        try:
            if traced:
                self.tracer.begin_key(key)
            t0 = time.perf_counter()
            df = self.specs[key].fn(self.spark, self.sf_dir)
            if traced:
                self.tracer.built()
            result = df.collect() if collect_rows else df.toPandas()
            seconds = time.perf_counter() - t0
        except Exception:
            if traced:
                self.tracer.abort_key()
            self.fail(key, traceback.format_exc().strip().splitlines()[-1])
            return None
        finally:
            leaked = persisted(self.spark)
            if leaked:
                clear_persisted(self.spark)
        if traced:
            records.append(self.tracer.end_key(df, result, leaked))
        return seconds, df, result

    def run_pass(self, order: list[str], shapes: dict | None = None) -> tuple[dict[str, float], list[dict]]:
        """Per-key seconds of one pass (failed keys left out) and, when
        the pass is traced, the tracer's per-key records. ``shapes``
        receives each key's (schema, row count)."""
        times: dict[str, float] = {}
        records: list[dict] = []
        for key in order:
            out = self.run_key(key, records=records)
            if out is None:
                continue
            times[key], df, pdf = out
            if shapes is not None:
                shapes[key] = (df.schema.simpleString(), len(pdf))
        return times, records


def input_stats(tables) -> dict[str, dict[str, int]]:
    """Rows and on-disk bytes of each input table."""
    import pyarrow.parquet as pq

    stats = {}
    for name in tables:
        path = os.path.join(SF_DIR, f"{name}.parquet")
        stats[name] = {"rows": pq.ParquetFile(path).metadata.num_rows, "bytes": os.path.getsize(path)}
    return stats


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM and every
    Python worker have exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    if not procfs.wait_for_descendants(60):
        raise RuntimeError("Spark processes still running after the JVM stopped")


def conf_mismatch(spark, runtime_confs: dict[str, str], cpus: int) -> int:
    """Intended session confs that did not take effect."""
    intended = dict(runtime_confs)
    intended["spark.master"] = f"local[{cpus}]"
    intended["spark.sql.execution.arrow.pyspark.enabled"] = "true"
    return sum(spark.conf.get(k, None) != v for k, v in intended.items())


def run(args: argparse.Namespace, keys: list[str], cpus: int) -> dict:
    """One run of the workload of ``keys``; returns the result object."""
    sys.path.insert(0, ROOT)
    import duckdb
    import pyspark

    from jsmr_spark.io import TABLES, load_table
    from jsmr_spark.registry import all_specs
    from jsmr_spark.session import RUNTIME_CONFS, get_spark

    import check

    specs = all_specs()
    lakehouse_keys = {
        k for k in keys
        if k.startswith(("sink_", "source_")) or specs[k].fn.__module__.endswith(".lakehouse")
    }
    inputs = input_stats(TABLES)
    rng = random.Random(args.seed)
    order = lambda: rng.sample(keys, len(keys))  # noqa: E731
    steal0 = procfs.cpu_jiffies()

    with procfs.PeakRss() as rss:
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        get_spark_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        for name in TABLES:
            load_table(spark, SF_DIR, name)
        setup_s = time.perf_counter() - PROCESS_START
        mismatched = conf_mismatch(spark, RUNTIME_CONFS(), cpus)

        tracer = None
        if args.trace:
            import tracing

            tracer = tracing.Tracer(spark)
            tracer.install()
            tracer.active = True
        client = Client(spark, specs, SF_DIR, tracer)

        # First pass of the fresh session.
        first_shapes: dict[str, tuple[str, int]] = {}
        first, first_records = client.run_pass(order(), first_shapes)
        marks = {"setup": setup_s, "first_pass": time.perf_counter() - PROCESS_START}
        if tracer:
            tracer.active = False

        # Correctness pass, untimed, against the DuckDB oracles.
        oracle = check.Oracle(SF_DIR, TABLES, threads=cpus)
        try:
            expected, duckdb_s = oracle.expected(specs, keys)
        finally:
            oracle.close()
        for key in order():
            out = client.run_key(key, collect_rows=True)
            if out is None:
                continue
            _, df, rows = out
            if key in expected:
                why = check.mismatch(df.columns, rows, expected[key])
            elif key not in first_shapes:
                why = "no first-pass result to compare with"
            elif (df.schema.simpleString(), len(rows)) != first_shapes[key]:
                why = f"schema/rows {(df.schema.simpleString(), len(rows))} != first pass {first_shapes[key]}"
            else:
                why = None
            if why:
                client.fail(key, f"wrong result: {why}")

        marks["check"] = time.perf_counter() - PROCESS_START

        # Passes keep getting faster for several passes (JIT, codegen
        # caches); untimed warm-up passes take the steepest part of that
        # out of the timed region.
        warmup_passes = 0
        t_end = time.perf_counter() + WARMUP_S
        while warmup_passes == 0 or time.perf_counter() < t_end:
            client.run_pass(order())
            warmup_passes += 1

        marks["warmup"] = time.perf_counter() - PROCESS_START

        # Timed region; with --trace 1 every second pass is traced.
        timed: list[dict[str, float]] = []
        traced: list[list[dict]] = []
        peaks: list[int] = []
        min_passes = TRACE_MIN_PASSES if tracer else MIN_TIMED_PASSES
        t_end = time.perf_counter() + args.seconds
        while time.perf_counter() < t_end or len(timed) < min_passes or len(traced) < (min_passes if tracer else 0):
            if tracer:
                tracer.active = len(traced) < len(timed)
            rss.restart()
            times, records = client.run_pass(order())
            if records:
                traced.append(records)
            else:
                timed.append(times)
                peaks.append(rss.restart())
        if tracer:
            tracer.active = False
            tracer.uninstall()

        marks["timed"] = time.perf_counter() - PROCESS_START

    stop_spark(spark)
    marks["stop"] = time.perf_counter() - PROCESS_START

    # Each key's median over the timed passes: one slow execution of a
    # key (the host's noise) moves neither a pass nor a percentile.
    key_s = [statistics.median(t[k] for t in timed if k in t) for k in keys if any(k in t for t in timed)]
    samples = [s for t in timed for s in t.values()]
    loadavg = os.getloadavg()[0]
    steal = procfs.steal_pct(steal0, procfs.cpu_jiffies())
    print(
        json.dumps(
            {
                "evidence": {
                    "workload": args.workload,
                    "seed": args.seed,
                    "trace": args.trace,
                    "nproc": cpus,
                    "loadavg": loadavg,
                    "steal_pct": steal,
                    "spark": pyspark.__version__,
                    "duckdb": duckdb.__version__,
                    "conf_mismatch": mismatched,
                    "inputs": inputs,
                    "setup_s": setup_s,
                    "phase_ends_s": marks,
                    "first_pass": first,
                    "warmup_passes": warmup_passes,
                    "timed_passes": timed,
                    "query_samples": len(samples),
                    "failures": client.failures,
                }
            }
        ),
        flush=True,
    )
    if args.trace:
        oracle_keys = [k for k in keys if k in expected]
        spark_oracle_s = statistics.median(sum(t.get(k, 0.0) for k in oracle_keys) for t in timed)
        values = tracing.median_metrics([tracing.pass_metrics(r, cpus, lakehouse_keys) for r in traced])
        values.update(
            {
                "session.get_spark_s": get_spark_s,
                "session.conf_mismatch": mismatched,
                "first_pass_s": sum(first.values()),
                "peak_rss_mb": statistics.median(peaks) / 1e6,
                "exec.first_s": sum(r["job_wall_ms"] for r in first_records) / 1000.0,
                "oracle.duckdb_pass_s": duckdb_s,
                "oracle.spark_over_duckdb": spark_oracle_s / duckdb_s if duckdb_s else 0.0,
                "query.samples": len(samples),
                "trace.overhead_frac": statistics.median(
                    sum(r["build_s"] + r["collect_s"] for r in recs) for recs in traced
                ) / statistics.median(sum(t.values()) for t in timed) - 1.0,
                "env.cpus": cpus,
                "env.loadavg": loadavg,
                "env.steal_pct": steal,
            }
        )
        tracer.dump(os.path.join(WORK, "trace", f"{args.workload}-{args.seed}-{os.getpid()}.json"))
        units = PER_LAYER
    else:
        values = {
            "setup_s": setup_s,
            "pass_s": sum(key_s),
            "query_s_p50": hd_quantile(key_s, 0.5),
            "query_s_p90": hd_quantile(key_s, 0.9),
        }
        units = END_TO_END
    return {
        "correct": client.failed == 0,
        "attempted": client.attempted,
        "failed": client.failed,
        "metrics": {name: {"value": values[name], "unit": unit} for name, unit in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    cpus = procfs.cpus()
    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    configure_environment(tmp, cpus)
    try:
        result = run(args, list(WORKLOADS[args.workload]), cpus)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
