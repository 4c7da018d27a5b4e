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
  * map    -> RDD.flatMap        (JsMr: browser-executed user JS, A3)
  * shuffle-> groupByKey/reduceByKey (JsMr: server-side partitioner, A5)
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
    num_reducers: int | None = None,
    num_mappers: int | None = None,
) -> DataFrame:
    """Run a JsMr-style MapReduce job over a DataFrame.

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
        num_reducers: shuffle partition count (JsMr's #reducers knob);
            defaults to Spark's setting.
        num_mappers: input split count (JsMr's chunk-size knob, A2).
            Python map_fn runs one worker PER INPUT PARTITION, so a
            single-file input serializes the whole map phase through
            one Python process no matter how many cores exist. The
            old "3.7s -> 0.7s at sf0.1 by splitting to 8" was measured
            while every Python task also re-read ~0.25 s of zip
            directories (see pyworker.py). On the pyworker daemon an
            empty Python task costs ~56 ms of executor run time (256 ms
            on the stock daemon; 4-vCPU host), and sf0.1 wordcount runs
            0.46 s unsplit vs 0.60 s at 8 mappers: a split pays only
            once a partition's map work outweighs that fixed cost.
            Defaults to the input's existing partitioning.
    """
    if reduce_fn is None:
        reduce_fn = lambda key, values: [(key, list(values))]  # noqa: E731

    spark = df.sparkSession
    if num_mappers is not None:
        df = df.repartition(num_mappers)
    pairs = df.rdd.flatMap(map_fn)
    # Reducer count follows the INPUT's partitioning (classic MR sizing:
    # reducers ~ mappers), not the SQL shuffle conf — a tiny input on a
    # big session must not fan out to hundreds of near-empty Python
    # reducer tasks (each one is a JVM<->Python worker round-trip,
    # ~56 ms of executor run time even when empty; see num_mappers).
    parts = num_reducers or max(2, pairs.getNumPartitions())
    if combine_fn is not None:
        grouped = pairs.reduceByKey(combine_fn, numPartitions=parts).mapValues(lambda v: [v])
    else:
        grouped = pairs.groupByKey(numPartitions=parts).mapValues(list)
    out = grouped.flatMap(lambda kv: reduce_fn(kv[0], kv[1]))
    if output_schema is None:
        return spark.createDataFrame(out)
    return spark.createDataFrame(out, output_schema)


def wordcount(df: DataFrame, text_col: str = "text", num_mappers: int | None = None) -> DataFrame:
    """The canonical JsMr example job, via the compat API with map-side
    combine. Oracle-checked twin: queries/text.py::q_text_wordcount."""
    return job(
        df,
        map_fn=lambda row: [(tok, 1) for tok in row[text_col].split(" ")],
        reduce_fn=lambda key, values: [(key, values[0])],
        combine_fn=lambda a, b: a + b,
        output_schema="token string, cnt long",
        num_mappers=num_mappers,
    )


def inverted_index(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_mappers: int | None = None,
) -> DataFrame:
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
        combine_fn=lambda a, b: a + b,
        output_schema="token string, df long, min_doc long, max_doc long, postings_md5 string",
        num_mappers=num_mappers,
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
    num_reducers: int | None = None,
    num_mappers: int | None = None,
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
    # num_mappers: the same A2 chunk-size knob job() has (r13) — both
    # map phases are per-row user Python, so a single-file input
    # otherwise serializes them through one Python worker each.
    if num_mappers is not None:
        left = left.repartition(num_mappers)
        right = right.repartition(num_mappers)
    keyed_l = left.rdd.map(lambda row: (key_fn_l(row), ("L", row)))
    keyed_r = right.rdd.map(lambda row: (key_fn_r(row), ("R", row)))
    grouped = keyed_l.union(keyed_r).groupByKey(num_reducers)

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
