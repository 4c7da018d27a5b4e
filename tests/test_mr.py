"""MR-compat API: Tier-A parity checks (SURVEY.md §2.A)."""

import pytest
from pyspark.sql import functions as F

from jsmr_spark.io import load_table
from jsmr_spark.mr import inverted_index, job, wordcount
from jsmr_spark.registry import get_query
from tests.conftest import SF_DIR


def test_mr_wordcount_equals_dataframe_wordcount(spark):
    docs = load_table(spark, SF_DIR, "documents")
    mr = {(r.token, r.cnt) for r in wordcount(docs).collect()}
    df = {
        (r.token, r.cnt)
        for r in docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert mr == df and len(mr) > 0


def test_mr_job_without_combiner(spark):
    docs = load_table(spark, SF_DIR, "documents")
    out = job(
        docs,
        map_fn=lambda row: [(row.lang, row.n_chars)],
        reduce_fn=lambda key, values: [(key, len(values), sum(values))],
        output_schema="lang string, n_docs long, total_chars long",
    )
    expect = {
        (r.lang, r.n_docs, r.total_chars)
        for r in docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .collect()
    }
    assert {(r.lang, r.n_docs, r.total_chars) for r in out.collect()} == expect


def _index_rows(df) -> set:
    return {(r.token, r.df, r.min_doc, r.max_doc, r.postings_md5) for r in df.collect()}


def _inverted_index_reference(docs) -> set:
    """The DataFrame re-expression of the inverted index: distinct-doc
    count, min, max and md5 of the comma-joined sorted doc ids."""
    return {
        (r.token, r.df, r.min_doc, r.max_doc, r.postings_md5)
        for r in docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_set("doc_id")), lambda d: d.cast("string")
                    ),
                    ",",
                ).cast("binary")
            ).alias("postings_md5"),
        )
        .collect()
    }


def test_mr_inverted_index_equals_dataframe(spark):
    """The list-concat combine + digest reduce must agree with the
    DataFrame re-expression (collect_set + sort + md5)."""
    docs = load_table(spark, SF_DIR, "documents")
    mr = _index_rows(inverted_index(docs))
    assert mr == _inverted_index_reference(docs) and len(mr) > 0


def test_mr_inverted_index_in_place_combine_across_merges(spark):
    """The in-place posting-list combine over a caller-repartitioned
    input: three map partitions, so lists merge map-side within a
    partition and reduce-side across partitions. A second call on the
    same input returns the same rows, so no list leaks across calls."""
    docs = load_table(spark, SF_DIR, "documents").repartition(3)
    first = _index_rows(inverted_index(docs))
    assert first == _inverted_index_reference(docs) and len(first) > 0
    assert _index_rows(inverted_index(docs)) == first


@pytest.mark.parametrize(
    "key, jobs",
    [("mr_api", 1), ("q_mr_inverted_index", 1), ("q_mr_chain_dfhist", 2), ("q_mr_join", 2)],
)
def test_mr_keys_map_over_input_partitions(spark, key, jobs):
    """The registry's MR keys shuffle once per MR job and never before
    the map phase: no DataFrame exchange (ShuffledRowRDD) in the
    lineage, one keyed RDD shuffle (ShuffledRDD) per job."""
    lineage = get_query(key).fn(spark, SF_DIR).rdd.toDebugString().decode()
    assert lineage.count("ShuffledRowRDD") == 0, lineage
    assert lineage.count("ShuffledRDD") == jobs, lineage


def test_mr_job_chaining(spark):
    """A8: output of job N is input of job N+1."""
    docs = load_table(spark, SF_DIR, "documents")
    counts = wordcount(docs)
    by_len = job(
        counts,
        map_fn=lambda row: [(len(row.token), row.cnt)],
        reduce_fn=lambda key, values: [(key, sum(values))],
        combine_fn=lambda a, b: a + b,
        output_schema="token_len long, total long",
    )
    rows = {(r.token_len, r.total) for r in by_len.collect()}
    assert rows and all(l > 0 for l, _ in rows)


def test_mr_join_matches_dataframe_join(spark):
    """Reduce-side compat join equals the relational join on inputs
    with fan-out (duplicate keys both sides), misses, and empty
    groups on either side."""
    from jsmr_spark.mr import mr_join

    left = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (3, "d"), (5, "e")], "k int, lv string"
    )
    right = spark.createDataFrame(
        [(1, 10), (2, 20), (2, 21), (4, 40)], "k int, rv int"
    )
    got = {
        (r.k, r.lv, r.rv)
        for r in mr_join(
            left,
            right,
            key_fn_l=lambda r: r.k,
            key_fn_r=lambda r: r.k,
            join_fn=lambda k, a, b: [(k, a.lv, b.rv)],
            output_schema="k int, lv string, rv int",
        ).collect()
    }
    exp = {(r.k, r.lv, r.rv) for r in left.join(right, "k").collect()}
    assert got == exp
    # fan-out sanity: key 1 -> 2x1, key 2 -> 1x2, keys 3/4/5 -> no match
    assert len(got) == 4
