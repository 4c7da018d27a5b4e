"""Fixture table loader (SURVEY.md §1.2, FIXTURES.md).

Every query accesses tables only through :func:`load_table` so that
source-level normalization lives in exactly one place:

  * ``events.ts`` exists in two fixture generations, and the loader
    branches on the SCANNED dtype so one code path handles both:

    - round-1 files: parquet TIMESTAMP(NANOS); with
      ``spark.sql.legacy.parquet.nanosAsLong=true`` it scans as long
      nanoseconds and is normalized with ``timestamp_micros(ts DIV
      1000)`` (integer division — float division loses precision at
      ~1.7e18 ns), reproducing DuckDB's µs truncation exactly
      (verified in SURVEY.md §1.2);
    - round-2+ files: parquet TIMESTAMP(MICROS), which scans as
      ``timestamp_ntz`` and only needs a cast to session-local
      TIMESTAMP — value-identical because the session timezone is
      pinned to UTC (checked at cast time, see below).

    Any OTHER scanned dtype raises: a third fixture generation must
    fail loudly rather than flow through the wrong normalization.

Scale note: loaders return plain ``spark.read.parquet`` scans — no
``.cache()``, no repartition — so Catalyst keeps full pushdown/pruning
freedom and the same code works when a path points at a 100 TB
partitioned dataset instead of one file. The analyzed scan itself IS
memoized per (session, sf_dir, table): re-resolving the same path
re-lists files and re-reads parquet footers on every query (~80 ms/
table locally, a metastore round trip per query on a cluster), which
is exactly the metadata a production catalog caches. The memo holds
only the relation (schema + file index snapshot) — each query still
plans its own filters/projections on top, so pushdown is per-query.
Sources that mutate between reads must pass ``fresh=True``.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jsmr_spark.session import ensure_engine_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# session -> {(abspath(sf_dir), table): analyzed DataFrame}. Weak keys
# for the same reason as _REGISTERED below. The cached object pins the
# file-listing snapshot taken at first load — correct for the read-only
# fixture dirs (and for any immutable lake partition); callers reading
# a path they mutate must pass fresh=True.
_DF_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, fresh: bool = False
) -> DataFrame:
    """Load one fixture table, applying source normalization.

    Memoized per (session, sf_dir, table) — see the module docstring.
    ``fresh=True`` bypasses and refreshes the memo (mutable sources).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    cache = _DF_CACHE.setdefault(spark, {})
    key = (os.path.abspath(sf_dir), name)
    if not fresh:
        hit = cache.get(key)
        if hit is not None:
            return hit
    ensure_engine_confs(spark)
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        # Two fixture generations exist. Round-1 files store ts as
        # parquet TIMESTAMP(NANOS), which (with nanosAsLong=true)
        # scans as long nanoseconds and needs the µs truncation below
        # (DIV = integer division; /1000 loses precision at ~1.7e18).
        # Round-2 files store TIMESTAMP(MICROS) directly — scanned as
        # a timestamp already, identical to what DuckDB sees; no
        # normalization needed. Branch on the scanned type so one
        # loader handles both.
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
        elif ts_type == "timestamp_ntz":
            # Round-1 normalization produced TIMESTAMP (LTZ); the cast
            # below is value-identical ONLY under a UTC session tz —
            # and a deployment may not let ensure_engine_confs set the
            # timezone (or the caller overrode it), so verify instead of
            # assuming: shifting every instant by a tz offset must fail
            # loudly.
            tz = spark.conf.get("spark.sql.session.timeZone")
            if tz != "UTC":
                raise RuntimeError(
                    f"events.ts NTZ->LTZ cast requires UTC session "
                    f"timezone, got {tz!r} (set spark.sql.session.timeZone)"
                )
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        elif ts_type != "timestamp":
            # A third fixture generation (e.g. plain int64 µs) must not
            # silently pass through — the bigint branch above would
            # corrupt it by DIV 1000 if it ever scanned as long.
            raise TypeError(
                f"unexpected events.ts dtype {ts_type!r}; loader knows "
                f"bigint(ns), timestamp_ntz, timestamp"
            )
    cache[key] = df
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


# session -> sf_dir whose views are currently registered; avoids
# re-reading 10 parquet footers on every spark.sql-based query. Weak
# keys: a stopped-and-collected session can never alias a new one (a
# plain id() key can be reused by the allocator and would silently skip
# registration on the new session).
_REGISTERED: "weakref.WeakKeyDictionary[SparkSession, str]" = (
    weakref.WeakKeyDictionary()
)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all fixture tables as temp views (for spark.sql paths).

    Memoized per (session, sf_dir): repeated calls with the same scale
    dir are no-ops; a different sf_dir re-registers (the driver runs
    several scale factors through one session)."""
    if _REGISTERED.get(spark) == sf_dir:
        return
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    _REGISTERED[spark] = sf_dir
