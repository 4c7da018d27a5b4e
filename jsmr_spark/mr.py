"""JsMr-style MapReduce-compat API (SURVEY.md §2.A Tier A).

The reference's whole programming model is: a job = (input, map fn,
reduce fn, config); map(key, value, emit) produces (k, v) pairs, the
framework shuffles by key, reduce(key, values, emit) produces output
records (SURVEY.md §2.A A3-A6, §3.1). This module reproduces that
surface 1:1 on Spark so a JsMr user can port a job verbatim:

    out = job(df,
              map_fn=lambda row: [(tok, 1) for tok in row.text.split()],
              reduce_fn=lambda key, values: [(key, sum(values))],
              output_schema="token string, cnt long")

Execution notes (Spark-first, not a coordinator port):
  * chunks -> the input's partitions (JsMr: input splitting, A2). One
    Python map task runs per partition: Spark's file splits, or the
    caller's own `repartition` before calling job().
  * map    -> RDD.flatMap        (JsMr: browser-executed user JS, A3)
  * shuffle-> groupByKey/reduceByKey (JsMr: server-side partitioner, A5),
    one reducer per mapped partition, at least two
  * reduce -> flatMap over groups (JsMr: browser reduce, A6)
  * combine: pass an associative `combine_fn` and the job runs as
    map-side-combined reduceByKey — the scalable path (JsMr A4).
  * chaining (A8) is function composition: feed job() output to job().
  * scheduling/fault-tolerance/status (A9-A10) are Spark's scheduler,
    speculation and listeners — nothing to reimplement.

This API is the compatibility layer, NOT the fast path: user Python
runs per record. Every relational operator in jsmr_spark.queries is
the DataFrame re-expression that Catalyst can optimize; tests assert
the MR wordcount equals the DataFrame wordcount (q_text_wordcount).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from typing import Any

from pyspark import RDD
from pyspark.sql import DataFrame, Row

MapFn = Callable[[Row], Iterable[tuple[Any, Any]]]
ReduceFn = Callable[[Any, list[Any]], Iterable[tuple]]
CombineFn = Callable[[Any, Any], Any]


def job(
    df: DataFrame,
    map_fn: MapFn,
    reduce_fn: ReduceFn | None = None,
    combine_fn: CombineFn | None = None,
    output_schema: str | None = None,
) -> DataFrame:
    """Run a JsMr-style MapReduce job over a DataFrame.

    The map phase runs one Python task per partition of ``df`` (JsMr's
    chunks, A2); a caller who wants other chunking repartitions ``df``
    itself. The keyed shuffle has one reducer per mapped partition
    (`_reducers`).

    Args:
        df: input records (one Row per JsMr input record).
        map_fn: Row -> iterable of (key, value) pairs.
        reduce_fn: (key, list(values)) -> iterable of output tuples.
            Defaults to emitting (key, values-as-list).
        combine_fn: optional associative (v, v) -> v; when given, the
            shuffle uses reduceByKey with map-side combine and
            reduce_fn receives the single combined value in a 1-list.
        output_schema: DDL schema of the output rows, e.g.
            "token string, cnt long".
    """
    if reduce_fn is None:
        reduce_fn = lambda key, values: [(key, list(values))]  # noqa: E731

    spark = df.sparkSession
    pairs = df.rdd.flatMap(map_fn)
    parts = _reducers(pairs)
    if combine_fn is not None:
        grouped = pairs.reduceByKey(combine_fn, numPartitions=parts).mapValues(lambda v: [v])
    else:
        grouped = pairs.groupByKey(numPartitions=parts).mapValues(list)
    out = grouped.flatMap(lambda kv: reduce_fn(kv[0], kv[1]))
    if output_schema is None:
        return spark.createDataFrame(out)
    return spark.createDataFrame(out, output_schema)


def _reducers(pairs: RDD) -> int:
    """The keyed shuffle's partition count: one reducer per mapped
    partition (classic MR sizing, reducers ~ mappers), at least two.
    Not the SQL shuffle conf: a tiny input on a big session must not fan
    out to hundreds of near-empty Python reducer tasks, each a
    JVM<->Python worker round-trip."""
    return max(2, pairs.getNumPartitions())


def wordcount(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The canonical JsMr example job, via the compat API with map-side
    combine. Oracle-checked twin: queries/text.py::q_text_wordcount."""
    return job(
        df,
        map_fn=lambda row: [(tok, 1) for tok in row[text_col].split(" ")],
        reduce_fn=lambda key, values: [(key, values[0])],
        combine_fn=lambda a, b: a + b,
        output_schema="token string, cnt long",
    )


def _extend(a: list, b: list) -> list:
    """The posting-list combine: extend ``a`` in place and return it, so
    each merge costs len(b), not a copy of the growing list (``a + b``
    is quadratic over a token's merges). Safe because reduceByKey starts
    each combiner from the one-element list ``map_fn`` emitted, which
    nothing else holds, and a list that comes back from the shuffle or
    a spill is freshly deserialized."""
    a.extend(b)
    return a


def inverted_index(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """The second canonical MR job (the one every MR paper shows after
    wordcount): token -> posting list of containing documents.

    Exercises the parts of the compat surface wordcount does not:
    * a NON-SCALAR combine (A4): values are doc-id lists, combine is
      list concatenation — associative, so map-side combine shrinks
      shuffle volume from one pair per (token, occurrence) to one pair
      per (token, partition);
    * a reduce that transforms the grouped value (A6): dedupe + sort +
      digest, not just a fold.

    The posting list itself is emitted as an md5 over the sorted
    comma-joined doc ids (plus df/min/max) so rows stay small while the
    oracle still value-checks every posting: DuckDB recomputes the same
    digest with md5(string_agg(... ORDER BY doc_id)).

    At scale, posting lists for stopword-like tokens concentrate on one
    reducer; the DataFrame re-expression (groupBy(token) +
    collect_set — Tier B's aggregation path) gets partial aggregation
    and AQE skew handling for free. This job exists for API parity.
    """
    import hashlib

    def map_fn(row):
        return [(tok, [row[id_col]]) for tok in row[text_col].split(" ")]

    def reduce_fn(token, values):
        postings = sorted(set(values[0]))
        joined = ",".join(str(d) for d in postings)
        digest = hashlib.md5(joined.encode()).hexdigest()
        return [(token, len(postings), postings[0], postings[-1], digest)]

    return job(
        df,
        map_fn=map_fn,
        reduce_fn=reduce_fn,
        combine_fn=_extend,
        output_schema="token string, df long, min_doc long, max_doc long, postings_md5 string",
    )


def df_histogram(inverted: DataFrame) -> DataFrame:
    """Job chaining (A8) through the compat API: consume the inverted
    index JOB OUTPUT as the next job's input — map each token row to its
    document frequency, combine-sum into the df histogram. JsMr chains
    jobs by feeding job N's output file to job N+1; here the chain is
    DataFrame composition, one lazy DAG, no intermediate materialization."""
    return job(
        inverted,
        map_fn=lambda row: [(row.df, 1)],
        reduce_fn=lambda df_val, values: [(df_val, values[0])],
        combine_fn=lambda a, b: a + b,
        output_schema="df long, n_tokens long",
    )


def mr_join(
    left: DataFrame,
    right: DataFrame,
    key_fn_l: Callable[[Row], Any],
    key_fn_r: Callable[[Row], Any],
    join_fn: Callable[[Any, Row, Row], Iterable[tuple]],
    output_schema: str,
) -> DataFrame:
    """The third canonical MR job: a reduce-side equi-join, the way the
    JsMr model expresses joins — both inputs map to TAGGED (key,
    ('L'|'R', row)) pairs, the framework shuffles them into the same
    reducer group, and the reducer pairs every L with every R
    (repartition join in MR terms; Blanas et al., SIGMOD 2010).

    Exercises the one compat-surface element wordcount/inverted-index
    do not: a job over TWO heterogeneous inputs sharing one shuffle
    (JsMr runs this as two map phases writing to the same partitioner).
    join_fn(key, l_row, r_row) emits the output records, so projection
    and arithmetic ride inside the reduce (A6).

    This is the COMPAT path: user Python per record, groupByKey with no
    map-side shrink (tags are not combinable), hot keys concentrate on
    single reducers. The fast path for every real query is the Tier-B
    DataFrame join (q_join_inner et al.) where Catalyst picks
    broadcast/SMJ/shuffle-hash and AQE splits skew."""
    keyed_l = left.rdd.map(lambda row: (key_fn_l(row), ("L", row)))
    keyed_r = right.rdd.map(lambda row: (key_fn_r(row), ("R", row)))
    pairs = keyed_l.union(keyed_r)
    grouped = pairs.groupByKey(numPartitions=_reducers(pairs))

    def reduce_(kv):
        key, tagged = kv
        ls, rs = [], []
        for tag, payload in tagged:
            (ls if tag == "L" else rs).append(payload)
        for a in ls:
            for b in rs:
                yield from join_fn(key, a, b)

    spark = left.sparkSession
    return spark.createDataFrame(grouped.flatMap(reduce_), output_schema)
