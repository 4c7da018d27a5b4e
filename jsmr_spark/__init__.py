"""jsmr_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the query/data-processing capabilities of the
reference (menthas/JsMr, a browser-based MapReduce framework; see
SURVEY.md §0 — the local snapshot was empty, so component-level parity
is documented in SURVEY.md §2.A rather than file:line citations),
re-expressed Spark-first: DataFrame/SQL plans optimized by Catalyst,
with Structured Streaming for stateful stream operators and
Arrow-vectorized UDFs where built-ins cannot express the semantics.

Layout:
    session.py    SparkSession factory with engine-required configs
    io.py         fixture table loader (incl. ns-timestamp normalization)
    registry.py   query registry backing __spark_entry__.py
    queries/      the declared operator inventory (SURVEY.md §2.B)
    compat.py     oracle-compatibility helpers (exact cents, rounding)
    mr.py         JsMr-style MapReduce-compat API (SURVEY.md §2.A)
    jobspec.py    declarative JSON job specs run through mr.py
    status.py     job/cluster status surface (SURVEY.md §2.A A9-A10)
    multimodal.py binary (image/audio) column processing
    vectorized.py block-vectorized similarity kernels over pandas UDFs
    pyds.py       custom Python DataSource reader and sinks
    pyworker.py   Python worker daemon of get_spark sessions
    streaming/    Structured Streaming twins of the batch q_stream_* keys
"""

from jsmr_spark.registry import all_oracles, all_queries, get_query

__all__ = ["all_queries", "all_oracles", "get_query"]
