"""Training-pipeline operator invariants (queries/pipeline.py).

The differential harness already checks fixture parity; these tests pin
the *algorithmic* properties: connected-components correctness against
a union-find oracle on arbitrary graphs, and the determinism /
partition laws of the hash split and stratified sample.
"""

from __future__ import annotations

import random

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from jsmr_spark.queries.pipeline import (
    clusters_lsh_frame,
    connected_components,
    q_sample_stratified,
    q_split_train,
)
from jsmr_spark.registry import get_query
from tests.conftest import canon_rows

SF_DIR = "/root/testdata/sf0.001"

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

edges_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=15),
        st.integers(min_value=0, max_value=15),
    ).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=25,
)


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@given(edges=edges_strategy)
@settings(**SETTINGS)
def test_connected_components_matches_union_find(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["lbl"] for r in connected_components(df).collect()}
    # Union-find roots are path-compressed mins, so labels agree exactly.
    expect = _union_find(edges)
    assert got == expect


def test_connected_components_chain(spark):
    # A chain is the worst diameter case: A-B-C-D-E must all collapse
    # to min(A) even though only adjacent pairs were ever candidates.
    df = spark.createDataFrame([(i, i + 1) for i in range(5)], "src long, dst long")
    got = {r["node"]: r["lbl"] for r in connected_components(df).collect()}
    assert got == {i: 0 for i in range(6)}


def test_split_partitions_corpus(spark):
    rows = {r["split"]: r["n_docs"] for r in q_split_train(spark, SF_DIR).collect()}
    from jsmr_spark.io import load_table

    total = load_table(spark, SF_DIR, "documents").count()
    assert sum(rows.values()) == total
    assert set(rows) <= {"train", "val", "test"}
    assert rows["train"] > rows.get("val", 0)


def test_split_deterministic(spark):
    a = sorted(map(tuple, q_split_train(spark, SF_DIR).collect()))
    b = sorted(map(tuple, q_split_train(spark, SF_DIR).collect()))
    assert a == b


def test_stratified_sample_bounds(spark):
    for r in q_sample_stratified(spark, SF_DIR).collect():
        assert 0 <= r["n_sampled"] <= r["n_total"]
        assert abs(r["sample_rate"] - r["n_sampled"] / r["n_total"]) < 1e-4


def test_jobspec_compiles_to_same_plan_results(spark):
    """A job spec must compile to the same results as the handwritten
    DataFrame twin, op by op (filter/derive/join/group round-trip)."""
    from pyspark.sql import functions as F

    from jsmr_spark.compat import cents, pct
    from jsmr_spark.jobspec import compile_job
    from jsmr_spark.queries.pipeline import _JOBSPEC
    from tests.conftest import SF_DIR

    got = {
        r.n_name: (r.revenue, r.n_items)
        for r in compile_job(spark, SF_DIR, _JOBSPEC).collect()
    }
    from jsmr_spark.io import load_table

    l = load_table(spark, SF_DIR, "lineitem").filter("l_returnflag = 'R'")
    s = load_table(spark, SF_DIR, "supplier")
    n = load_table(spark, SF_DIR, "nation")
    exp = {
        r.n_name: (r.revenue, r.n_items)
        for r in (
            l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
            .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
            .groupBy("n_name")
            .agg(
                (
                    F.sum(
                        cents(F.col("l_extendedprice"))
                        * (100 - pct(F.col("l_discount")))
                    )
                    / 10000.0
                ).alias("revenue"),
                F.count(F.lit(1)).alias("n_items"),
            )
            .collect()
        )
    }
    assert got == exp


def test_clusters_lsh_finds_planted_near_copies(spark, tmp_path):
    """The fixture corpora hold no pair that shares an LSH bucket and
    passes EMB_COS_MIN, so there the key and its oracle agree on zero
    rows. Here each of five random vectors gets a scaled copy (the same
    direction, so the same bucket and cosine 1) and a jittered copy:
    the key must still match its oracle, now on real clusters."""
    rng = random.Random(15)
    vecs = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(40)]
    for base in vecs[:5]:
        vecs.append([2 * x for x in base])
        vecs.append([x + rng.uniform(-0.01, 0.01) for x in base])
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(vecs)), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array([i % 3 for i in range(len(vecs))], pa.int32()),
            }
        ),
        tmp_path / "embeddings.parquet",
    )
    df = clusters_lsh_frame(spark, str(tmp_path))
    rows = df.collect()
    got = canon_rows(df.columns, [tuple(r) for r in rows])
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{tmp_path}/embeddings.parquet')"
    )
    cur = con.execute(get_query("q_dedup_clusters_lsh").oracle)
    want = canon_rows([d[0] for d in cur.description], cur.fetchall())
    con.close()
    assert got == want
    sizes = {r.doc_id: r.cluster_size for r in rows}
    assert all(sizes.get(i, 0) >= 2 for i in range(5)), sizes
