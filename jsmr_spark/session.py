"""SparkSession factory with the configs this engine requires.

Two usage modes:
  * Tests / bench / standalone: ``get_spark()`` builds a local session.
  * Driver mode: the driver owns the session and passes it to
    ``entry(spark)`` / ``queries()[k](spark, sf_dir)``; we cannot rebuild
    it, so ``ensure_engine_confs(spark)`` applies the runtime-settable
    subset (all engine-required confs are SQLConf entries, hence
    session-settable).

Required confs and why (SURVEY.md §7.1):
  * ``spark.sql.legacy.parquet.nanosAsLong=true`` — the ``events``
    fixture carries parquet TIMESTAMP(NANOS), which Spark 4.x rejects
    with PARQUET_TYPE_ILLEGAL otherwise. With the flag, ``ts`` arrives
    as long nanoseconds and io.py normalizes to µs timestamps.
  * ``spark.sql.session.timeZone=UTC`` — deterministic timestamp
    rendering, matching DuckDB's naive-µs reading of the fixtures.
  * AQE on (default in 4.x, set explicitly) — runtime coalescing and
    skew-join handling; this is the 100 TB skew story (SURVEY.md §7.4).
  * ``spark.python.daemon.module=jsmr_spark.pyworker`` — Python workers
    fork from a daemon that stops CPython < 3.13 re-reading the whole
    zip directory of pyspark.zip and the spark-core jar at every task
    start (0.13-0.33 s per task; see pyworker.py).
  * ``spark.executorEnv.PYTHONPATH=<dir holding jsmr_spark/>`` — so the
    daemon imports whatever the driver's cwd.

The last two are SparkContext-static: a driver-owned session
(``ensure_engine_confs``) cannot set them and keeps the stock
``pyspark.daemon``. Results are identical; only the per-task cost of
Python stages (mr.py, Python UDFs) differs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

import weakref


def _aqe_default() -> str:
    """AQE default: ON — runtime coalescing + skew-join handling is the
    100 TB story and costs nothing at cluster scale. At LOCAL bench
    scale (sub-second plans over ~MB inputs) AQE's per-stage replanning
    is pure fixed overhead — measured 1.5-2x wall on sub-second keys —
    so the perf harnesses (bench.py, tools/ab_sweep.py) export
    SPARK_GRAFT_AQE=false; correctness paths leave it on."""
    return os.environ.get("SPARK_GRAFT_AQE", "true")


# Confs that are safe (and required) to set on a live session.
# A function, not a module constant: the AQE entries read the env at
# call time so a harness can flip SPARK_GRAFT_AQE after import.
def RUNTIME_CONFS() -> dict[str, str]:
    return {
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": _aqe_default(),
        "spark.sql.adaptive.coalescePartitions.enabled": _aqe_default(),
        "spark.sql.adaptive.skewJoin.enabled": _aqe_default(),
        # r12 (guide §4 — the Python boundary): PySpark 4 wraps every
        # DataFrame/Column API call with a call-site capture for error
        # context (a Python stack walk + 2 extra py4j round trips + a
        # conf read PER CALL). Measured on this box: F.col alone drops
        # 7.3 -> 2.2 ms with it off. Pure client-side debug metadata —
        # no effect on plans or results.
        "spark.python.sql.dataFrameDebugging.enabled": "false",
    }

# Applied alongside RUNTIME_CONFS by ensure_engine_confs, to get_spark
# and driver-owned sessions alike: a vanilla session defaults to 200
# shuffle partitions, which at bench scale is pure task-scheduling
# overhead (on a real cluster this is instead sized to ~2-3x total
# executor cores). Capped at 16 locally:
# at fixture sizes the per-task scheduling cost dominates past ~16
# tasks per exchange (measured: the 4 shuffle-heavy headline keys run
# 12% faster at 16 than at 32; 8 is flat vs 16), while AQE coalescing
# keeps the reduce side right-sized either way.
_ADAPTIVE_CONFS = {
    "spark.sql.shuffle.partitions": lambda: str(min(default_parallelism(), 16)),
}

# Local-mode-only sizing, env-overridable. r13 correction: every
# fixture parquet file is ONE row group (verified with pyarrow), and
# Spark's parquet reader is row-group granular — a task whose byte
# range contains the row-group start decodes the whole group, so
# sub-file splits can never parallelize these scans; the old 8m
# default only manufactured empty tasks (lineitem sf0.1: 11 tasks, 10
# of them no-ops) and their scheduling overhead. 128m (= the engine
# default) removes them: bench A/B interleaved, exec total 0.98/0.98
# -> 0.90/0.87 s. Only applied when the master is local[*]; real
# clusters keep their own sizing.
_LOCAL_SCAN_CONFS = {
    "spark.sql.files.maxPartitionBytes": lambda: os.environ.get("SPARK_GRAFT_SPLIT", "128m"),
    "spark.sql.files.openCostInBytes": lambda: "1m",
}


# The directory holding jsmr_spark/ (see spark.executorEnv.PYTHONPATH).
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "jsmr_spark") -> SparkSession:
    """Build (or fetch) a local SparkSession sized to this machine.

    Shuffle partitions and scan split sizing come from
    ``ensure_engine_confs`` (``_ADAPTIVE_CONFS``, ``_LOCAL_SCAN_CONFS``),
    the same path a driver-owned session takes.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", "jsmr_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in RUNTIME_CONFS().items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ensure_engine_confs(spark)
    return spark


# Sessions ensure_engine_confs has already configured. Memoized so (a)
# the per-query loader path doesn't pay ~10 py4j conf round trips per
# table, and (b) a caller that deliberately overrides a conf AFTER the
# first application (e.g. tests running with AQE off / odd shuffle
# partition counts) isn't silently clobbered by the next load_table.
_CONFIGURED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def ensure_engine_confs(spark: SparkSession) -> SparkSession:
    """Apply engine-required runtime confs to an externally-owned session.

    Idempotent and applied once per session; later explicit conf
    overrides by the caller stick."""
    if spark in _CONFIGURED:
        return spark
    _CONFIGURED.add(spark)
    for k, v in RUNTIME_CONFS().items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Immutable in this deployment; reads must cope (io.py has a
            # fallback path for events if nanosAsLong can't be set).
            pass
    # r13 correction: spark.python.sql.dataFrameDebugging.enabled is a
    # STATIC conf — on a driver-owned session the conf.set above throws
    # CANNOT_MODIFY_STATIC_CONFIG (swallowed) and the builder-time
    # default (true) stands, so r12's cache drop made pyspark re-read
    # "true" and the per-call capture stayed ON for vanilla sessions
    # (measured: ~5 ms of Python stack walk + extra py4j round trips
    # per DataFrame/Column call). The flag is client-side-only error-
    # context capture with zero effect on plans or results, so apply
    # the intent at the client: pin pyspark's cached check to the
    # session's effective conf — False unless the caller explicitly
    # built the session with it enabled.
    try:
        import pyspark.errors.utils as _peu

        _peu._enable_debugging_cache = (
            spark.conf.get(
                "spark.python.sql.dataFrameDebugging.enabled", "false"
            ).lower()
            == "true"
        )
    except Exception:
        pass
    for k, fv in _ADAPTIVE_CONFS.items():
        try:
            spark.conf.set(k, fv())
        except Exception:
            pass
    try:
        is_local = spark.sparkContext.master.startswith("local")
    except Exception:
        is_local = False
    if is_local:
        for k, fv in _LOCAL_SCAN_CONFS.items():
            try:
                spark.conf.set(k, fv())
            except Exception:
                pass
    return spark
