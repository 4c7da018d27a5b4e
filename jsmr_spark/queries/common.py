"""Shared helpers for query modules."""

from __future__ import annotations

import shutil
import tempfile
from collections.abc import Iterator
from contextlib import contextmanager

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
