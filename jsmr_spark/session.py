"""SparkSession factory with the configs this engine requires.

Two usage modes:
  * Tests / bench / standalone: ``get_spark()`` builds a local session.
  * Driver mode: the driver owns the session and passes it to
    ``entry(spark)`` / ``queries()[k](spark, sf_dir)``; we cannot rebuild
    it, so ``ensure_engine_confs(spark)`` applies the runtime confs.

Every conf the engine sets is named once, in one of two places:

  * ``RUNTIME_CONFS()`` — the one table of session-settable (SQLConf)
    confs. ``ensure_engine_confs`` applies it in one loop, once per
    session, to ``get_spark`` and driver-owned sessions alike (plus the
    local-only ``spark.sql.files.openCostInBytes`` when the master is
    ``local``). A key the deployment does not let it modify is skipped;
    any other failure raises, and the session is not marked configured.
  * ``get_spark``'s builder — only what cannot be set on a live
    session: master, driver memory, UI, Arrow, the Python worker daemon,
    the static ``spark.python.sql.dataFrameDebugging.enabled``, the
    static ``spark.sql.codegen.cache.maxEntries`` and the local
    filesystem (``spark.driver.extraClassPath`` and
    ``spark.hadoop.fs.file.impl``).

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
  * ``spark.sql.codegen.cache.maxEntries=CODEGEN_CACHE_ENTRIES`` — Spark
    keeps compiled codegen classes in one JVM-wide cache of 100 entries
    by default. A warm pass of the headline keys needs more than that,
    so each pass evicted what the next one needed and recompiled about
    100 classes with Janino; sized as below, a warm pass compiles none.
  * ``spark.driver.extraClassPath=LOCAL_FS_JAR`` and
    ``spark.hadoop.fs.file.impl=LOCAL_FS_CLASS`` — without the native
    libhadoop, Hadoop's local filesystem starts a ``chmod`` process for
    every file it creates and every directory it makes, .crc files
    included: 97 per warm ``stream_exactly_once_sink`` run and 55 per
    ``sink_zorder`` run, each 6-7 ms inside this JVM. The engine's
    filesystem (``jsmr_spark/jvm/``) is the same checksummed
    ``LocalFileSystem`` and sets the same bits with one ``chmod(2)``
    call. It also pins the ``file:`` class, which otherwise depends on
    the order ServiceLoader finds the jars in (hive-exec's
    ``ProxyLocalFileSystem`` can win).

All four are static: the JVM's classpath is fixed when it starts, and
Hadoop caches the ``file:`` filesystem from the first use. A
driver-owned session (``ensure_engine_confs``) cannot set them, so it
keeps the stock ``pyspark.daemon``, a codegen cache of 100 entries and
the stock local filesystem. Results are identical; only the per-task
cost of Python stages (mr.py, Python UDFs), the recompiles of a
long-lived session and the cost of each file a key writes differ.

A temporary change to a conf goes through ``conf_override``, which puts
back exactly the state it found: the old value, or unset.
"""

from __future__ import annotations

import os
import weakref
from contextlib import contextmanager
from typing import Iterator

import pyspark.errors.utils as _peu
from pyspark.sql import SparkSession


def _aqe_default() -> str:
    """AQE default: ON — runtime coalescing + skew-join handling is the
    100 TB story and costs nothing at cluster scale. At LOCAL bench
    scale (sub-second plans over ~MB inputs) AQE's per-stage replanning
    is pure fixed overhead — measured 1.5-2x wall on sub-second keys —
    so the perf harnesses (bench.py, tools/bench_all.py) export
    SPARK_GRAFT_AQE=false; correctness paths leave it on."""
    return os.environ.get("SPARK_GRAFT_AQE", "true")


# The one table of session-settable confs, applied by
# ensure_engine_confs. A function, not a module constant: the AQE
# entries read the env at call time so a harness can flip
# SPARK_GRAFT_AQE after import.
def RUNTIME_CONFS() -> dict[str, str]:
    return {
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": _aqe_default(),
        "spark.sql.adaptive.coalescePartitions.enabled": _aqe_default(),
        "spark.sql.adaptive.skewJoin.enabled": _aqe_default(),
        # A vanilla session defaults to 200 shuffle partitions, which at
        # bench scale is pure task-scheduling overhead (on a real
        # cluster this is instead sized to ~2-3x total executor cores).
        # Capped at 16 locally: at fixture sizes the per-task scheduling
        # cost dominates past ~16 tasks per exchange (measured: the 4
        # shuffle-heavy headline keys run 12% faster at 16 than at 32; 8
        # is flat vs 16), while AQE coalescing keeps the reduce side
        # right-sized either way.
        "spark.sql.shuffle.partitions": str(min(default_parallelism(), 16)),
    }


# Entries of Spark's codegen class cache (spark.sql.codegen.cache.maxEntries,
# default 100). Distinct classes one fresh session compiles (4 vCPU, AQE
# off): 156 for a pass of the 11 headline keys (bench.py), 57 for
# perfbench's mapreduce_sinks keys, 4539 for one sweep of all 380
# canonical registry keys at sf0.01. At 100 entries warm headline passes
# recompiled 95-130 classes each; at 400 they compile none. 400 is the
# smallest round value with 2x headroom over the headline pass (Guava
# splits the cache into 4 LRU segments of 100, so the headroom holds per
# segment too). Retained after that sweep and full GCs, heap / Metaspace:
# 147 / 220 MB at 100 entries, 149 / 222 MB at 400, 290 / 256 MB with
# room for all 4539. Covering the registry would nearly double the
# retained heap to save that sweep's cross-key recompiles (703 at 400,
# 1718 at 100), which nothing times warm, so it is not covered.
CODEGEN_CACHE_ENTRIES = 400

# The directory holding jsmr_spark/ (see spark.executorEnv.PYTHONPATH).
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The fork-free local filesystem (jsmr_spark/jvm/, built by
# tools/build_jar.py) and the jar that carries it.
LOCAL_FS_JAR = os.path.join(_PACKAGE_ROOT, "jsmr_spark", "jvm", "jsmr-localfs.jar")
LOCAL_FS_CLASS = "jsmr.fs.ForkFreeLocalFileSystem"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "jsmr_spark") -> SparkSession:
    """Build (or fetch) a local SparkSession sized to this machine.

    The builder carries only the confs a live session cannot take; the
    rest come from ``ensure_engine_confs``, the same path a driver-owned
    session takes. Fetching the session again leaves the caller's later
    overrides in place.
    """
    cpus = default_parallelism()
    spark = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", "jsmr_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        # r12 (guide §4 — the Python boundary): PySpark 4 wraps every
        # DataFrame/Column API call with a call-site capture for error
        # context (a Python stack walk + 2 extra py4j round trips + a
        # conf read PER CALL). Measured in r12: F.col alone drops
        # 7.3 -> 2.2 ms with it off. Pure client-side debug metadata —
        # no effect on plans or results. A static conf: only the
        # builder can set it.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.extraClassPath", LOCAL_FS_JAR)
        .config("spark.hadoop.fs.file.impl", LOCAL_FS_CLASS)
        .getOrCreate()
    )
    return ensure_engine_confs(spark)


# Sessions ensure_engine_confs has already configured. Memoized so (a)
# the per-query loader path doesn't pay ~10 py4j conf round trips per
# table, and (b) a caller that deliberately overrides a conf AFTER the
# first application (e.g. tests running with AQE off / odd shuffle
# partition counts) isn't silently clobbered by the next load_table.
_CONFIGURED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def ensure_engine_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to a session, once.

    Later explicit conf overrides by the caller stick. A failed apply
    raises and is not memoized, so the next call tries again."""
    if spark in _CONFIGURED:
        return spark
    confs = RUNTIME_CONFS()
    if spark.sparkContext.master.startswith("local"):
        # Local-mode-only scan sizing: a 1m per-file open cost (Spark's
        # default is 4m) packs the small fixture files into fewer scan
        # tasks. Real clusters keep their own sizing. (Split size stays
        # at Spark's 128m default: every fixture file is one row group,
        # so smaller splits only manufacture empty tasks.)
        confs["spark.sql.files.openCostInBytes"] = "1m"
    for k, v in confs.items():
        if spark.conf.isModifiable(k):
            spark.conf.set(k, v)
    # r13: spark.python.sql.dataFrameDebugging.enabled is static, so a
    # driver-owned session keeps its builder-time default and pyspark's
    # per-call capture (~5 ms of stack walk + py4j round trips per
    # DataFrame/Column call) would stay on. The flag is client-side
    # error context with no effect on plans or results, so pin
    # pyspark's cached check to False unless the caller explicitly
    # built the session with it enabled.
    _peu._enable_debugging_cache = (
        spark.conf.get("spark.python.sql.dataFrameDebugging.enabled", "false").lower()
        == "true"
    )
    _CONFIGURED.add(spark)
    return spark


@contextmanager
def conf_override(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set ``confs`` for the block, then restore each key exactly: its
    old value if it had one, unset if it had none."""
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
