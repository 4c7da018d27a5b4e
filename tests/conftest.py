"""Shared fixtures: one SparkSession, one DuckDB oracle connection, and
the canonical result comparison used by the differential harness
(SURVEY.md §5.2 tier 2 — mimics the driver's protocol locally)."""

from __future__ import annotations

import datetime
import decimal
import math
import os

import duckdb
import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
os.environ.setdefault("TZ", "UTC")

SF_DIR = os.environ.get("JSMR_TEST_SF_DIR", "/root/testdata/sf0.001")
# The duplicate-bearing scale for de-vacuosity tests (ADVICE r11):
# derived from the configured fixture root, not a hardcoded absolute
# path, so relocating the fixtures keeps every test routed together.
SF01_DIR = os.path.join(os.path.dirname(SF_DIR), "sf0.1")

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


@pytest.fixture(scope="session")
def spark():
    from jsmr_spark.session import get_spark

    s = get_spark("jsmr_tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()


def _canon_value(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, decimal.Decimal):
        # EXACT, scale-preserving comparison (VERDICT r2 #2): the driver
        # hashes decimal values non-canonically, so any decimal-typed
        # output must match the oracle byte-for-byte including scale.
        # The old float() coercion masked exactly the drift class the
        # driver catches; the tag prevents a Decimal ever comparing
        # equal to a float/int of the same magnitude.
        return f"decimal:{v}"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon_value(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    return v


def canon_rows(col_names, rows):
    """Order-insensitive canonical form: sort columns by name, normalize
    values, sort rows — mirrors the driver's order-insensitive hash."""
    order = sorted(range(len(col_names)), key=lambda i: col_names[i])
    out = [tuple(_canon_value(row[i]) for i in order) for row in rows]
    out.sort(key=repr)
    return [col_names[i] for i in order], out


def run_spark(spark, name: str, sf_dir: str = SF_DIR):
    from jsmr_spark.registry import get_query

    df = get_query(name).fn(spark, sf_dir)
    return df.columns, [tuple(r) for r in df.collect()]


def run_oracle(duck, name: str):
    from jsmr_spark.registry import get_query

    spec = get_query(name)
    assert spec.oracle is not None, f"{name} has no oracle"
    cur = duck.execute(spec.oracle)
    cols = [d[0] for d in cur.description]
    return cols, cur.fetchall()


# --- Type portability (VERDICT r4/r5 #2) -------------------------------------
#
# The driver hashes results through a typed serialization, so a DuckDB result
# type with no faithful Spark counterpart (HUGEINT above all: DuckDB widens
# integer sum() to INT128 while Spark stays BIGINT) fails the driver hash even
# when every value compares equal as a Python int — which is exactly why the
# value-level comparison below stayed green for 2 rounds while the driver
# failed. duck_to_spark_type() is therefore the explicit portability map:
# returning None means "no Spark type serializes identically — fix the oracle
# SQL (usually CAST(sum(...) AS BIGINT))".

_DUCK_SCALAR_TO_SPARK = {
    "TINYINT": "tinyint",
    "SMALLINT": "smallint",
    "INTEGER": "int",
    "BIGINT": "bigint",
    "FLOAT": "float",
    "DOUBLE": "double",
    "VARCHAR": "string",
    "BOOLEAN": "boolean",
    "DATE": "date",
    "TIMESTAMP": "timestamp",
    "BLOB": "binary",
}

# The driver's value-hash serializes these groups identically (Python int /
# float / etc.), so cross-width pairs inside a group are portable; anything
# OUTSIDE all groups (HUGEINT, unsigned, nested-with-nonportable-element) is
# not portable at all.
_TYPE_EQUIV = {
    "tinyint": "int",
    "smallint": "int",
    "int": "int",
    "bigint": "int",
    "float": "float",
    "double": "float",
    "timestamp": "timestamp",
    "timestamp_ntz": "timestamp",
}


def duck_to_spark_type(duck_type: str):
    """Spark dtype string a DuckDB result type serializes identically to,
    or None if the type is non-portable (drives a hard assert)."""
    t = str(duck_type).upper()
    if t in _DUCK_SCALAR_TO_SPARK:
        return _DUCK_SCALAR_TO_SPARK[t]
    if t.startswith("DECIMAL"):
        return t.lower().replace(" ", "")
    if t.endswith("[]"):
        inner = duck_to_spark_type(t[:-2])
        return None if inner is None else f"array<{inner}>"
    return None  # HUGEINT / unsigned / UUID / nested-struct: not portable


def _equiv(spark_dtype: str) -> str:
    if spark_dtype.startswith("array<") and spark_dtype.endswith(">"):
        return f"array<{_equiv(spark_dtype[6:-1])}>"
    return _TYPE_EQUIV.get(spark_dtype, spark_dtype)


def assert_types_portable(name: str, duck, oracle_sql: str, spark_dtypes):
    """Assert every oracle result column has a portable type AND that the
    Spark result column is in the same serialization class."""
    rel = duck.sql(oracle_sql)
    o_types = dict(zip(rel.columns, (str(t) for t in rel.types)))
    s_types = dict(spark_dtypes)
    for col, d_type in o_types.items():
        mapped = duck_to_spark_type(d_type)
        assert mapped is not None, (
            f"{name}: oracle column {col!r} has non-portable DuckDB type "
            f"{d_type} (no Spark type serializes identically — CAST it in the "
            f"oracle SQL, e.g. CAST(sum(...) AS BIGINT))"
        )
        if col in s_types:
            assert _equiv(mapped) == _equiv(s_types[col]), (
                f"{name}: column {col!r} type class mismatch — oracle "
                f"{d_type} (~{mapped}) vs spark {s_types[col]}"
            )


def assert_query_matches(spark, duck, name: str):
    from jsmr_spark.registry import get_query

    spec = get_query(name)
    df = spec.fn(spark, SF_DIR)
    assert_types_portable(name, duck, spec.oracle, df.dtypes)
    s_cols, s_rows = df.columns, [tuple(r) for r in df.collect()]
    o_cols, o_rows = run_oracle(duck, name)
    s_cols_c, s_canon = canon_rows(s_cols, s_rows)
    o_cols_c, o_canon = canon_rows(o_cols, o_rows)
    assert s_cols_c == o_cols_c, f"{name}: column mismatch spark={s_cols_c} oracle={o_cols_c}"
    assert len(s_canon) == len(o_canon), (
        f"{name}: row count spark={len(s_canon)} oracle={len(o_canon)}"
    )
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_canon, o_canon)) if a != b
    ]
    assert not mismatches, f"{name}: {len(mismatches)} row diffs; first 3: {mismatches[:3]}"
