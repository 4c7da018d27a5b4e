"""Shared helpers for query modules."""

from __future__ import annotations

import shutil
import tempfile
from collections.abc import Iterable, Iterator
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from jsmr_spark.io import load_table, register_views


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Shorthand fixture-table loader."""
    return load_table(spark, sf_dir, name)


def sql(spark: SparkSession, sf_dir: str, stmt: str) -> DataFrame:
    """Run Spark SQL with all fixture tables registered as temp views.

    Used for surface that is clearer in SQL (grouping sets, correlated
    subqueries, lateral UDTF joins). View registration is lazy metadata
    only — no data is read until the plan executes.
    """
    register_views(spark, sf_dir)
    return spark.sql(stmt)


def persisted(df: DataFrame) -> DataFrame:
    """The one place a query persists a relation: intra-query branch
    sharing (a self-join reads the relation on both sides, or a later
    join re-reads it), NOT cross-run result caching; the relation lives
    and dies inside one query execution.

    The level is pinned to MEMORY_AND_DISK_DESER, what `.cache()` uses,
    and stated here because a persisted relation can be corpus-sized
    (a shingle-set table at 100 TB), so the spill story must be
    explicit: partitions that exceed executor storage memory spill to
    local disk instead of OOMing or silently recomputing the upstream
    scan per branch."""
    return df.persist(StorageLevel.MEMORY_AND_DISK_DESER)


def constants(spark: SparkSession, ddl: str, rows: Iterable[tuple]) -> DataFrame:
    """A small relation of literal rows with the DDL's column names and
    types, built in the JVM and hinted for broadcast.

    A Python list handed to ``createDataFrame`` goes through
    ``sc.parallelize``, so every collect of a plan that reads it runs
    Python worker tasks; here the rows are one literal array inlined
    over a one-row range. The columns are non-nullable (a literal is
    never null), where ``createDataFrame`` declares them nullable."""
    fields = StructType.fromDDL(ddl).fields
    structs = [
        F.struct(*[F.lit(v).cast(f.dataType).alias(f.name) for v, f in zip(row, fields)])
        for row in rows
    ]
    return F.broadcast(spark.range(1).select(F.inline(F.array(*structs))))


@contextmanager
def scratch_dir(name: str) -> Iterator[str]:
    """The one place a key's staged files live: a fresh directory,
    removed with everything in it when the block exits, normally or not.

    mkdtemp creates it atomically under a name unique per call, so
    concurrent Spark applications on one host never share a path, and
    the `jsmr_<name>_` prefix makes a directory left by a killed process
    findable with a glob. The directory already exists, so a write into
    it uses mode("overwrite") or a subdirectory. A key must materialize
    its rows inside the block: a DataFrame that still reads the
    directory after the key's function returns reads nothing.
    """
    path = tempfile.mkdtemp(prefix=f"jsmr_{name}_")
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def collected(df: DataFrame, ddl: str) -> DataFrame:
    """Collect ``df`` and return its rows as a local relation with the
    schema ``ddl``: the rows ``spark.createDataFrame(df.collect(), ddl)``
    gives, without taking them through Python.

    The rows stay in the driver JVM (``collectAsList`` plus the JVM's
    ``createDataFrame(List<Row>, StructType)``). A Python list handed to
    ``createDataFrame`` goes through ``sc.parallelize`` instead, so every
    later collect of it runs ``defaultParallelism`` Python worker tasks.
    Columns map to the DDL's fields by position and are cast to their
    types, so an int column declared long arrives as long; the schema,
    nullability included, is the DDL's. Only for rows a Spark collect
    hands on unchanged: rows Python computes keep ``createDataFrame``.
    """
    spark = df.sparkSession
    fields = StructType.fromDDL(ddl).fields
    typed = df.toDF(*(f.name for f in fields)).select(
        *(F.col(f.name).cast(f.dataType) for f in fields)
    )
    schema = spark._jvm.org.apache.spark.sql.types.StructType.fromDDL(ddl)
    jdf = spark._jsparkSession.createDataFrame(typed._jdf.collectAsList(), schema)
    return DataFrame(jdf, spark)
