"""Edge-case unit tests on tiny in-memory frames (SURVEY.md §5.2.3):
nulls, empty inputs, ties, unicode, empty arrays — the cases the
null-free fixtures never exercise.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from jsmr_spark.mr import job
from jsmr_spark.session import conf_override


def test_agg_over_empty_input(spark):
    df = spark.createDataFrame([], "k string, v double")
    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"), F.avg("v").alias("a")
    ).collect()[0]
    assert row.n == 0 and row.s is None and row.a is None


def test_groupby_skips_nothing_on_empty(spark):
    df = spark.createDataFrame([], "k string, v double")
    assert df.groupBy("k").count().count() == 0


def test_null_keys_group_together(spark):
    df = spark.createDataFrame([(None, 1), (None, 2), ("a", 3)], "k string, v int")
    rows = {r.k: r.s for r in df.groupBy("k").agg(F.sum("v").alias("s")).collect()}
    assert rows[None] == 3 and rows["a"] == 3


def test_null_join_keys_never_match(spark):
    left = spark.createDataFrame([(None, 1), ("a", 2)], "k string, v int")
    right = spark.createDataFrame([(None, 10), ("a", 20)], "k string, w int")
    assert left.join(right, "k").count() == 1  # only 'a'
    assert left.join(right, "k", "left").count() == 2  # null row survives with null w


def test_window_rank_ties(spark):
    df = spark.createDataFrame([("a", 1), ("b", 1), ("c", 2)], "id string, v int")
    w = Window.orderBy("v")
    out = {r.id: (r.rnk, r.drnk) for r in df.select(
        "id", F.rank().over(w).alias("rnk"), F.dense_rank().over(w).alias("drnk")
    ).collect()}
    assert out["a"] == (1, 1) and out["b"] == (1, 1) and out["c"] == (3, 2)


def test_unicode_strings_survive_roundtrip(spark, tmp_path):
    data = [("héllo wörld", 1), ("中文 文本", 2), ("emoji 🙂 text", 3)]
    df = spark.createDataFrame(data, "text string, id int")
    path = str(tmp_path / "unicode_parquet")
    df.write.parquet(path)
    back = {r.text for r in spark.read.parquet(path).collect()}
    assert back == {d[0] for d in data}
    toks = spark.createDataFrame(data, "text string, id int").select(
        F.explode(F.split("text", " ")).alias("tok")
    )
    assert "中文" in {r.tok for r in toks.collect()}


def test_empty_and_null_arrays(spark):
    df = spark.createDataFrame(
        [(1, []), (2, None), (3, [1.0, 2.0])], "id int, arr array<double>"
    )
    rows = {r.id: (r.n, r.s) for r in df.select(
        "id",
        F.size("arr").alias("n"),
        F.aggregate("arr", F.lit(0.0), lambda a, x: a + x).alias("s"),
    ).collect()}
    assert rows[1] == (0, 0.0)
    assert rows[2] == (None, None)  # ANSI mode: size(NULL) is NULL
    assert rows[3] == (2, 3.0)


def test_dropduplicates_on_true_duplicates_is_deterministic(spark):
    df = spark.createDataFrame([(1, "x")] * 5 + [(2, "y")] * 3, "id int, v string")
    out = sorted((r.id, r.v) for r in df.dropDuplicates(["id"]).collect())
    assert out == [(1, "x"), (2, "y")]


def test_mr_job_empty_input(spark):
    df = spark.createDataFrame([], "text string")
    out = job(
        df,
        map_fn=lambda row: [(row.text, 1)],
        reduce_fn=lambda k, vs: [(k, sum(vs))],
        output_schema="token string, cnt long",
    )
    assert out.count() == 0


def test_minhash_handles_short_docs(spark):
    """Docs with <3 tokens produce no shingles and silently drop out
    (guarded in dedup._shingles) instead of erroring on sequence(1,0)."""
    from jsmr_spark.queries.dedup import _shingles

    docs = spark.createDataFrame(
        [(1, "one two"), (2, "a b c d"), (3, "solo")], "doc_id long, text string"
    )
    docs.createOrReplaceTempView("_short_docs")
    # _shingles reads via load_table; emulate its core expression directly
    toks = docs.select("doc_id", F.split("text", " ").alias("toks")).filter(
        F.size("toks") >= 3
    )
    sh = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 2), i -> concat(element_at(toks, i), ' ', "
                "element_at(toks, i + 1), ' ', element_at(toks, i + 2)))"
            )
        ).alias("sg"),
    )
    got = {(r.doc_id, r.sg) for r in sh.collect()}
    assert got == {(2, "a b c"), (2, "b c d")}


def test_events_loader_rejects_unknown_ts_dtype(spark, tmp_path):
    """A third fixture generation (e.g. plain int64 µs stored as double)
    must fail loudly in load_table, not flow through the ns DIV 1000
    normalization and silently corrupt every timestamp."""
    import pytest

    from jsmr_spark.io import load_table

    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [(1, 2.5, 3, "view", 1.0, "{}")],
        "event_id long, ts double, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{sf_dir}/events.parquet")
    with pytest.raises(TypeError, match="unexpected events.ts dtype"):
        load_table(spark, sf_dir, "events")


def test_events_loader_requires_utc_for_ntz(spark, tmp_path, monkeypatch):
    """The NTZ->LTZ cast is only value-identical under a UTC session
    timezone; a non-UTC session must raise instead of silently shifting
    every instant by the zone offset."""
    import pytest

    from jsmr_spark.io import load_table

    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 3, "view", 1.0, "{}")],
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts", "user_id",
        "event_type", "value", "props",
    ).write.parquet(f"{sf_dir}/events.parquet")
    import jsmr_spark.io as jio

    # Emulate a driver-owned session whose deployment does not let
    # ensure_engine_confs set the timezone: the loader must detect the
    # non-UTC zone and refuse.
    monkeypatch.setattr(jio, "ensure_engine_confs", lambda s: s)
    with conf_override(spark, {"spark.sql.session.timeZone": "America/New_York"}):
        with pytest.raises(RuntimeError, match="UTC session"):
            load_table(spark, sf_dir, "events")


def test_not_in_with_null_in_subquery_is_empty(spark):
    """Three-valued-logic contract behind q_join_null_aware: one NULL
    anywhere in the NOT IN subquery makes the predicate UNKNOWN for
    every probe row — the result must be EMPTY, not 'rows that match
    nothing'. A left-anti rewrite returns 2 rows here and is wrong."""
    spark.createDataFrame([(1,), (2,), (3,)], "k int").createOrReplaceTempView(
        "naaj_probe"
    )
    spark.createDataFrame([(1,), (None,)], "x int").createOrReplaceTempView(
        "naaj_excl"
    )
    got = spark.sql(
        "SELECT k FROM naaj_probe WHERE k NOT IN (SELECT x FROM naaj_excl)"
    ).count()
    assert got == 0


def test_funnel_requires_strict_order(spark):
    """q_funnel_ordered's chain must be strictly ordered: a purchase
    BEFORE the first qualifying click cannot complete the funnel, and
    a click at exactly the first-view timestamp does not count (ts >
    t1, not >=)."""
    import datetime as dt

    from jsmr_spark.queries import timeseries as ts_mod
    from jsmr_spark.registry import get_query

    t0 = dt.datetime(2020, 1, 1, 12, 0, 0)

    def ev(eid, uid, typ, minutes):
        return (eid, t0 + dt.timedelta(minutes=minutes), uid, typ, 1.0, "{}")

    rows = [
        # user 1: purchase BEFORE click -> stalls at stage 2
        ev(1, 1, "view", 0), ev(2, 1, "purchase", 5), ev(3, 1, "click", 10),
        # user 2: click exactly at first-view ts -> not counted, stage 1
        ev(4, 2, "view", 0), ev(5, 2, "click", 0),
        # user 3: proper chain -> stage 3
        ev(6, 3, "view", 0), ev(7, 3, "click", 5), ev(8, 3, "purchase", 9),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    orig = ts_mod.t
    ts_mod.t = lambda sp, sf, name: df  # the funnel only reads events
    try:
        out = {r.user_id: r.stage for r in
               get_query("q_funnel_ordered").fn(spark, "unused").collect()}
    finally:
        ts_mod.t = orig
    assert out == {1: 2, 2: 1, 3: 3}


def test_ewma_single_event_equals_value(spark):
    """A user's first EWMA must equal that event's value exactly
    (n_win=1 -> num/den collapses to vc/100)."""
    import datetime as dt

    from jsmr_spark.queries import timeseries as ts_mod
    from jsmr_spark.registry import get_query

    df = spark.createDataFrame(
        [(1, dt.datetime(2020, 1, 1), 7, "view", 123.45, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    orig = ts_mod.t
    ts_mod.t = lambda sp, sf, name: df
    try:
        rows = get_query("q_ts_ewma").fn(spark, "unused").collect()
    finally:
        ts_mod.t = orig
    assert len(rows) == 1
    assert rows[0].n_win == 1
    assert rows[0].ewma == 123.45


def test_text_chunk_window_invariants(spark):
    """Pin the chunking contract of q_text_chunk on the fixture: chunk
    indices are contiguous from 0, consecutive chunks overlap by W-S,
    every token is covered exactly once per its overlap multiplicity,
    and only the LAST chunk may be shorter than W."""
    from jsmr_spark.queries.text_extra import CHUNK_S, CHUNK_W
    from jsmr_spark.registry import get_query

    from tests.conftest import SF_DIR as sf

    rows = get_query("q_text_chunk").fn(spark, sf).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert by_doc, "no chunks produced"
    docs = {
        r.doc_id: len(r.text.split(" "))
        for r in spark.read.parquet(f"{sf}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_idx)
        n = docs[doc_id]
        assert [c.chunk_idx for c in chunks] == list(range(len(chunks)))
        assert all(c.start_tok == c.chunk_idx * CHUNK_S for c in chunks)
        # all but the last chunk are full windows; the last reaches the end
        for c in chunks[:-1]:
            assert c.n_chunk_tokens == CHUNK_W
        last = chunks[-1]
        assert last.start_tok + last.n_chunk_tokens == n
        # expected chunk count formula
        expect = 1 if n <= CHUNK_W else (n - CHUNK_W + CHUNK_S - 1) // CHUNK_S + 1
        assert len(chunks) == expect, (doc_id, n, len(chunks), expect)


def test_text_chunk_single_token_doc(spark):
    """A document shorter than one window yields exactly one chunk
    whose hash is the md5 of the whole text."""
    import hashlib

    from jsmr_spark.queries import text_extra  # noqa: F401  (key registered)
    from jsmr_spark.registry import get_query
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(1, "hello world", 11, "en", "src0")],
            "doc_id long, text string, n_chars long, lang string, source string",
        ).write.parquet(os.path.join(d, "documents.parquet"))
        rows = get_query("q_text_chunk").fn(spark, d).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.chunk_idx == 0 and r.start_tok == 0 and r.n_chunk_tokens == 2
    assert r.chunk_md5 == hashlib.md5(b"hello world").hexdigest()


def test_embed_quantize_error_bound(spark):
    """int8 quantization error per dim is at most (scale/2)^2, so each
    vector's error is bounded by dims * (amax/127/2)^2 — verify the
    reported per-label means respect the bound derived from the corpus
    max-norm (a loose but implementation-independent sanity fence)."""
    from jsmr_spark.registry import get_query

    from tests.conftest import SF_DIR as sf

    rows = get_query("q_embed_quantize").fn(spark, sf).collect()
    assert rows
    amax_global = (
        spark.read.parquet(f"{sf}/embeddings.parquet")
        .select(
            F.array_max(
                F.transform("embedding", lambda c: F.abs(c.cast("double")))
            ).alias("am")
        )
        .agg(F.max("am"))
        .collect()[0][0]
    )
    bound = 64 * (amax_global / 127.0 / 2.0) ** 2
    for r in rows:
        assert r.n_vecs > 0
        assert 0.0 <= r.mean_sq_err <= bound + 1e-4, (r.label, r.mean_sq_err, bound)


def test_dynamic_overwrite_premise_static_would_clobber(spark):
    """The discriminating premise of sink_dynamic_overwrite: the same
    one-partition rewrite under the default STATIC mode deletes every
    other partition — so the key's full read-back genuinely proves
    dynamic semantics rather than passing vacuously."""
    import os
    import shutil
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    from jsmr_spark.io import load_table
    from tests.conftest import SF_DIR

    out = os.path.join(tempfile.gettempdir(), f"jsmr_dynover_premise_{uuid.uuid4().hex[:8]}")
    try:
        agg = (
            load_table(spark, SF_DIR, "events")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        agg.write.mode("overwrite").partitionBy("event_type").parquet(out)
        with conf_override(spark, {"spark.sql.sources.partitionOverwriteMode": "static"}):
            agg.filter(F.col("event_type") == "click").write.mode(
                "overwrite"
            ).partitionBy("event_type").parquet(out)
        left = {r.event_type for r in spark.read.parquet(out).collect()}
        assert left == {"click"}, left
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_round6_new_key_invariants(spark):
    """Cross-key invariants for the round-6 additions that the
    differential hash alone doesn't articulate: association-rule score
    identities, seasonal backtest arithmetic, KL non-negativity,
    cogroup tie semantics, HLL merge tolerance, and the UDTF-width
    precondition."""
    from jsmr_spark.registry import get_query
    from tests.conftest import SF_DIR

    sf = SF_DIR

    # q_assoc_rules: pair ordering, min support, and the lift/confidence
    # identity lift = confidence / P(b)
    rules = get_query("q_assoc_rules").fn(spark, sf).collect()
    assert len(rules) == 20 and [r.rnk for r in rules] == list(range(1, 21))
    for r in rules:
        assert r.part_a < r.part_b and r.support >= 2
        assert 0.0 < r.confidence <= 1.0

    # q_ts_seasonal: every type scores span-24 hours and mae * n equals
    # the exact integer error sum within the 4dp rounding
    for r in get_query("q_ts_seasonal").fn(spark, sf).collect():
        assert r.n_hours_scored > 0 and r.sum_abs_err >= 0
        assert abs(r.mae * r.n_hours_scored - r.sum_abs_err) <= 1e-4 * r.n_hours_scored

    # q_corpus_divergence: KL >= 0 (Gibbs), sources partition the corpus
    div = get_query("q_corpus_divergence").fn(spark, sf).collect()
    import duckdb

    n_docs = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{sf}/documents.parquet')"
    ).fetchone()[0]
    assert sum(r.n_docs for r in div) == n_docs
    assert all(r.kl_vs_corpus >= -1e-4 for r in div)

    # q_sketch_hll_merge: the persisted-and-merged estimate stays in tolerance
    assert all(r.est_ok for r in get_query("q_sketch_hll_merge").fn(spark, sf).collect())

    # q_udtf_analyze width precondition: every fixture doc has >= 10
    # tokens, so tok1..tok3 can never hit split_part's out-of-range ''
    min_toks = duckdb.sql(
        f"SELECT min(len(string_split(text, ' '))) FROM read_parquet('{sf}/documents.parquet')"
    ).fetchone()[0]
    assert min_toks >= 10


def test_cogrouped_map_tie_and_one_sided_keys(spark):
    """The cogroup function must count a view at EXACTLY the click ts
    (side='right') and must tolerate keys present on only one side —
    pinned on a hand-built frame, independent of the fixtures."""
    from jsmr_spark.queries.udfs import q_cogrouped_map  # noqa: F401  (import proves registration)
    import pandas as pd
    import numpy as np

    # replicate the worker function's semantics directly
    from jsmr_spark.registry import get_query
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1: view at t0, click at t0 (tie -> counts), click before any view
        (1, t0, 1, "view", 0.0, "{}"),
        (2, t0, 1, "click", 0.0, "{}"),
        (3, t0 - dt.timedelta(hours=1), 1, "click", 0.0, "{}"),
        # user 2: click only (no views) -> n_views_before = 0
        (4, t0, 2, "click", 0.0, "{}"),
        # user 3: view only -> contributes no output row
        (5, t0, 3, "view", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    import tempfile, os, shutil, uuid

    d = os.path.join(tempfile.gettempdir(), f"jsmr_cog_{uuid.uuid4().hex[:8]}")
    try:
        df.write.parquet(os.path.join(d, "events.parquet"))
        out = {
            (r.user_id, r.click_id): r.n_views_before
            for r in get_query("q_cogrouped_map").fn(spark, d).collect()
        }
        assert out == {(1, 2): 1, (1, 3): 0, (2, 4): 0}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_attribution_tie_and_window_rules(spark):
    """Pin the attribution boundary semantics on a hand-built frame:
    same-ts click attributes only with a smaller event_id; a click
    older than the 7-day lookback falls back to 'direct'; the LAST of
    several qualifying clicks wins."""
    import datetime as dt
    import os
    import shutil
    import tempfile
    import uuid

    from jsmr_spark.registry import get_query

    t0 = dt.datetime(2024, 1, 15, 12, 0, 0)

    def j(k):
        return '{"k": "%d"}' % k

    rows = [
        # user 1: two clicks (ch1 then ch2) before purchase -> last wins (ch2)
        (1, t0 - dt.timedelta(days=2), 1, "click", 0.0, j(1)),
        (2, t0 - dt.timedelta(days=1), 1, "click", 0.0, j(2)),
        (3, t0, 1, "purchase", 10.0, j(0)),
        # user 2: click at EXACT purchase ts, smaller event_id -> attributes (ch3)
        (4, t0, 2, "click", 0.0, j(3)),
        (5, t0, 2, "purchase", 20.0, j(0)),
        # user 3: click at exact ts but LARGER event_id -> direct
        (7, t0, 3, "purchase", 30.0, j(0)),
        (8, t0, 3, "click", 0.0, j(4)),
        # user 4: only click is 8 days old -> direct
        (9, t0 - dt.timedelta(days=8), 4, "click", 0.0, j(1)),
        (10, t0, 4, "purchase", 40.0, j(0)),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = os.path.join(tempfile.gettempdir(), f"jsmr_attr_{uuid.uuid4().hex[:8]}")
    try:
        df.write.parquet(os.path.join(d, "events.parquet"))
        out = {
            r.channel: (r.n_purchases, r.revenue_cents)
            for r in get_query("q_attribution_last_touch").fn(spark, d).collect()
        }
        assert out == {"ch2": (1, 1000), "ch3": (1, 2000), "direct": (2, 7000)}, out
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_containment_is_asymmetric(spark):
    """A short doc fully inside a long doc must flag (short, long) at
    containment 1.0 while (long, short) stays below threshold — the
    exact asymmetry symmetric Jaccard cannot express."""
    import os
    import shutil
    import tempfile
    import uuid

    from jsmr_spark.registry import get_query

    words = [f"w{i}" for i in range(40)]
    short = " ".join(words[:10])            # 6 shingles, all inside long
    long_ = " ".join(words)                 # 36 shingles
    other = " ".join(f"z{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, short, "en", "s", len(short)), (2, long_, "en", "s", len(long_)),
         (3, other, "en", "s", len(other))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = os.path.join(tempfile.gettempdir(), f"jsmr_cont_{uuid.uuid4().hex[:8]}")
    try:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        rows = {(r.doc_a, r.doc_b): r.containment
                for r in get_query("q_text_containment").fn(spark, d).collect()}
        assert rows == {(1, 2): 1.0}, rows
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_bm25_and_rrf_sanity(spark):
    """BM25 scores are non-negative with a full rank column; RRF top
    list is bounded by the theoretical max 2/(60+1) and every fused doc
    appears in at least one input list."""
    from jsmr_spark.queries.text import BM25_TOP_K
    from jsmr_spark.registry import get_query
    from tests.conftest import SF_DIR

    bm = get_query("q_text_bm25").fn(spark, SF_DIR).collect()
    assert [r.rnk for r in sorted(bm, key=lambda r: r.rnk)] == list(
        range(1, BM25_TOP_K + 1)
    )
    assert all(r.bm25 >= 0 for r in bm)
    scores = [r.bm25 for r in sorted(bm, key=lambda r: r.rnk)]
    assert scores == sorted(scores, reverse=True)

    rrf = get_query("q_rank_fusion").fn(spark, SF_DIR).collect()
    assert len(rrf) == 10
    assert all(0 < r.rrf <= 2.0 / 61 + 1e-9 for r in rrf)


def test_ks_auc_zipf_mrl_invariants(spark):
    """Statistical-identity pins for the round-6 batch-8 keys: KS and
    AUC bounds, the AUC tie identity on identical distributions, the
    Zipf slope sign, and the MRL self-recall control."""
    from jsmr_spark.registry import get_query
    from tests.conftest import SF_DIR

    ks = get_query("q_stats_ks").fn(spark, SF_DIR).collect()[0]
    assert 0 <= ks.d_stat <= 1 and 0 <= ks.d_num <= ks.n_a * ks.n_b

    auc = get_query("q_ml_auc").fn(spark, SF_DIR).collect()[0]
    assert 0 <= auc.auc <= 1
    assert 0 <= auc.u2 <= 2 * auc.n_pos * auc.n_neg

    z = get_query("q_text_zipf").fn(spark, SF_DIR).collect()[0]
    assert z.n_fit > 0 and z.slope < 0  # frequency falls with rank

    mrl = {r.dims: r.recall_at_10 for r in get_query("q_ann_mrl").fn(spark, SF_DIR).collect()}
    assert mrl[64] == 1.0  # self-recall control
    assert set(mrl) == {64, 32, 16}
    assert all(0 <= v <= 1 for v in mrl.values())


def test_auc_is_half_on_identical_distributions(spark):
    """Mann-Whitney sanity: pos and neg drawn as the SAME multiset must
    give AUC exactly 0.5 (all mass in ties, exact half-credit)."""
    import datetime as dt
    import os
    import shutil
    import tempfile
    import uuid

    from jsmr_spark.registry import get_query

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for v in (1.0, 2.25, 3.5, 3.5, 7.75):
        for typ in ("purchase", "view"):
            eid += 1
            rows.append((eid, t0, eid, typ, v, "{}"))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    d = os.path.join(tempfile.gettempdir(), f"jsmr_auc_{uuid.uuid4().hex[:8]}")
    try:
        df.write.parquet(os.path.join(d, "events.parquet"))
        r = get_query("q_ml_auc").fn(spark, d).collect()[0]
        assert r.auc == 0.5 and r.u2 == r.n_pos * r.n_neg
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_tclose_cusum_silence_epochs_invariants(spark):
    """Batch-9 pins: TVD bounds and threshold consistency, CUSUM
    deviation bounds and spine length, silence-rate bounds, and the
    epoch-materialization identity n_out == n_in * n_epochs."""
    from jsmr_spark.registry import get_query
    from tests.conftest import SF_DIR

    for r in get_query("q_privacy_tclose").fn(spark, SF_DIR).collect():
        assert 0.4 - 1e-4 < r.tvd <= 1.0 + 1e-9, r
        assert 0 <= r.tvd_num

    cus = get_query("q_ts_cusum").fn(spark, SF_DIR).collect()
    assert len(cus) == 5
    for r in cus:
        assert r.n_hours > 0 and r.dev_num >= 0
        assert r.cp_hour is not None

    for r in get_query("q_multimodal_silence").fn(spark, SF_DIR).collect():
        assert 0.0 <= r.silent_rate <= 1.0
        assert 0 <= r.n_fully_silent <= r.n_clips
        assert 0 <= r.max_run <= 3

    eps = get_query("q_mix_epochs").fn(spark, SF_DIR).collect()
    mx = max(r.n_in for r in eps)
    for r in eps:
        assert r.n_out == r.n_in * r.n_epochs
        assert r.n_epochs == max(1, mx // r.n_in)


def test_dpp_quantile_flatten_invariants(spark):
    """Batch-10 pins: the DPP flag must be TRUE (the key exists to
    assert the mechanism), the sketch accuracy flags hold, and outer
    flatten preserves exactly the empty-array docs as null rows."""
    import duckdb

    from jsmr_spark.registry import get_query
    from tests.conftest import SF_DIR

    dpp = get_query("q_join_dpp").fn(spark, SF_DIR).collect()
    assert dpp and all(r.dpp_active for r in dpp)

    for r in get_query("q_sketch_quantile_check").fn(spark, SF_DIR).collect():
        assert r.ok_p50 and r.ok_p99 and r.p50_exact <= r.p99_exact

    flat = get_query("q_flatten_nested").fn(spark, SF_DIR).collect()
    null_docs = {r.doc_id for r in flat if r.pos is None}
    expect = {
        d
        for (d,) in duckdb.sql(
            f"SELECT doc_id FROM read_parquet('{SF_DIR}/documents.parquet') WHERE doc_id % 7 = 0"
        ).fetchall()
    }
    assert null_docs == expect
    assert all(r.tok is not None for r in flat if r.pos is not None)


def test_stream_sink_commit_is_idempotent(tmp_path):
    """The Python streaming sink's manifest commit must be a no-op on
    a replayed batchId — the property that makes the read-through-
    manifest path exactly-once under micro-batch retries."""
    import json
    import os

    from jsmr_spark.pyds import _TsvCommit, _TsvStreamWriter

    w = _TsvStreamWriter(str(tmp_path))
    os.makedirs(tmp_path, exist_ok=True)
    w.commit([_TsvCommit("part-a.tsv", 10)], batchId=7)
    # replayed batch: different (retried) part file must NOT replace
    # or duplicate the committed manifest
    w.commit([_TsvCommit("part-b.tsv", 10)], batchId=7)
    manifest = json.load(open(tmp_path / "_BATCH_000007.json"))
    assert manifest == [{"file": "part-a.tsv", "rows": 10}]


def test_mad_median_tie_and_strict_outlier_boundary(spark):
    """Pin q_agg_mad's three boundary rules on a hand-built frame:
    a zero MAD still counts deviators (strict > 0), the .5 median
    interpolation is exact, and a deviation EXACTLY at 3*MAD does not
    flag (strict inequality)."""
    import os
    import shutil
    import tempfile
    import uuid

    from jsmr_spark.registry import get_query

    rows = (
        # A: mad=0 (majority identical); the lone 100 deviates -> 1 outlier
        [("A", 1.0)] * 4 + [("A", 100.0)]
        # B: even count -> med 2.5, adev {1.5,.5,.5,1.5} -> mad 1.0, none > 3
        + [("B", 1.0), ("B", 2.0), ("B", 3.0), ("B", 4.0)]
        # C: med 5, mad 2; max adev is EXACTLY 6 == 3*mad -> 0 outliers
        + [("C", 1.0), ("C", 3.0), ("C", 5.0), ("C", 7.0), ("C", 11.0)]
    )
    df = spark.createDataFrame(rows, "l_returnflag string, l_quantity double")
    d = os.path.join(tempfile.gettempdir(), f"jsmr_mad_{uuid.uuid4().hex[:8]}")
    try:
        df.write.parquet(os.path.join(d, "lineitem.parquet"))
        out = {
            r.l_returnflag: (r.med_qty, r.mad_qty, r.n_outliers, r.n_rows)
            for r in get_query("q_agg_mad").fn(spark, d).collect()
        }
        assert out == {
            "A": (1.0, 0.0, 1, 5),
            "B": (2.5, 1.0, 0, 4),
            "C": (5.0, 2.0, 0, 5),
        }, out
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_sample_balanced_membership_matches_portable_hash(spark):
    """q_sample_balanced must keep a class smaller than the cap whole,
    and for a capped class must keep EXACTLY the BALANCED_CAP ids whose
    md5-prefix rank is lowest — recomputed here independently with
    hashlib, so any drift in the portable hash or the tie-break fails
    on membership (kept_id_sum), not just counts."""
    import hashlib
    import os
    import shutil
    import tempfile
    import uuid

    from jsmr_spark.queries.sampling_geo import BALANCED_CAP
    from jsmr_spark.registry import get_query

    small = [(100 + i, "aa") for i in range(3)]
    big = [(200 + i, "bb") for i in range(25)]
    df = spark.createDataFrame(
        [(i, lang) for i, lang in small + big], "doc_id long, lang string"
    )
    d = os.path.join(tempfile.gettempdir(), f"jsmr_bal_{uuid.uuid4().hex[:8]}")

    def rank_key(doc_id: int) -> tuple[int, int]:
        h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:12], 16)
        return (h, doc_id)

    expect_bb = sorted((i for i, _ in big), key=rank_key)[:BALANCED_CAP]
    try:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        out = {
            r.lang: (r.n_total, r.n_kept, r.kept_id_sum)
            for r in get_query("q_sample_balanced").fn(spark, d).collect()
        }
        assert out["aa"] == (3, 3, sum(i for i, _ in small)), out
        assert out["bb"] == (25, BALANCED_CAP, sum(expect_bb)), (
            out,
            expect_bb,
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_hampel_spike_flag_and_partition_edge_frames(spark):
    """Pin q_ts_hampel on a constant series with one spike: only the
    spike flags (its own window's IQR is 0 and its deviation huge;
    neighbors see the spike inflate their IQR, never their deviation),
    and the FIRST row's shrunken 4-row frame interpolates p75 at rank
    2.25 -> iqr 1225 cents, pinning the edge-frame arithmetic (the
    spike leads the series so the edge frame is the interpolating
    one)."""
    import datetime as dt
    import os
    import shutil
    import tempfile
    import uuid

    from jsmr_spark.registry import get_query

    t0 = dt.datetime(2024, 3, 1, 0, 0, 0)
    vals = [50.0] + [1.0] * 8  # cents: 5000 then 100 x8
    rows = [
        (i + 1, t0 + dt.timedelta(minutes=i), 1, "tick", v, "{}")
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = os.path.join(tempfile.gettempdir(), f"jsmr_ham_{uuid.uuid4().hex[:8]}")
    try:
        df.write.parquet(os.path.join(d, "events.parquet"))
        out = {
            r.event_id: r
            for r in get_query("q_ts_hampel").fn(spark, d).collect()
        }
        flagged = sorted(i for i, r in out.items() if r.is_outlier)
        assert flagged == [1], flagged
        # spike row's own 4-row edge frame (cents 5000,100,100,100):
        # p25 @ rank 0.75 = 100, p75 @ rank 2.25 = 100 + 0.25*4900,
        # deviation 4900 > 1.5*1225 -> flagged
        assert out[1].med_cents == 100.0
        assert out[1].iqr_cents == 1225.0
        # a mid-series row: full 7-row frame of constants, iqr 0
        assert out[6].med_cents == 100.0 and out[6].iqr_cents == 0.0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_linreg_recovers_exact_planted_coefficients(spark):
    """Plant y = 200 + 300*qty + 50*disc_pct cents exactly and assert
    q_ml_linreg returns the planted coefficients in exact micro-cents
    (zero residual -> the rational solve must be exact, no tolerance);
    then sanity-check the fixture fit against numpy's float lstsq."""
    import os
    import shutil
    import tempfile
    import uuid

    import numpy as np

    from jsmr_spark.registry import get_query

    rows = []
    for q in range(1, 6):
        for dp in (0, 5, 10):
            price_cents = 200 + 300 * q + 50 * dp
            rows.append((float(q), dp / 100.0, price_cents / 100.0))
    df = spark.createDataFrame(
        rows, "l_quantity double, l_discount double, l_extendedprice double"
    )
    d = os.path.join(tempfile.gettempdir(), f"jsmr_ols_{uuid.uuid4().hex[:8]}")
    try:
        df.write.parquet(os.path.join(d, "lineitem.parquet"))
        r = get_query("q_ml_linreg").fn(spark, d).collect()[0]
        assert (r.n_rows, r.beta0_micro, r.beta1_micro, r.beta2_micro) == (
            15,
            200_000_000,
            300_000_000,
            50_000_000,
        ), r
    finally:
        shutil.rmtree(d, ignore_errors=True)

    # fixture sanity vs a float solver: agree to <1e-6 relative
    sf = "/root/testdata/sf0.001"
    r = get_query("q_ml_linreg").fn(spark, sf).collect()[0]
    import duckdb

    dd = duckdb.sql(
        f"""SELECT round(l_quantity) x1, round(l_discount*100) x2,
                   round(l_extendedprice*100) y
            FROM read_parquet('{sf}/lineitem.parquet')"""
    ).df()
    X = np.column_stack([np.ones(len(dd)), dd.x1, dd.x2])
    beta = np.linalg.lstsq(X, dd.y, rcond=None)[0]
    got = np.array([r.beta0_micro, r.beta1_micro, r.beta2_micro]) / 1e6
    assert np.allclose(got, beta, rtol=1e-6), (got, beta)


def test_cogrouped_map_counts_all_views_at_tied_ts(spark):
    """Several views at EXACTLY the click ts must all count (the
    cum-max collapse feeding merge_asof's last-match rule): 3 tied
    views -> n_views_before = 3, and an earlier click still sees 0."""
    import datetime as dt
    import os
    import shutil
    import tempfile
    import uuid

    from jsmr_spark.registry import get_query

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0, 7, "view", 0.0, "{}"),
        (2, t0, 7, "view", 0.0, "{}"),
        (3, t0, 7, "view", 0.0, "{}"),
        (4, t0, 7, "click", 0.0, "{}"),
        (5, t0 - dt.timedelta(hours=1), 7, "click", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = os.path.join(tempfile.gettempdir(), f"jsmr_cogt_{uuid.uuid4().hex[:8]}")
    try:
        df.write.parquet(os.path.join(d, "events.parquet"))
        out = {
            r.click_id: r.n_views_before
            for r in get_query("q_cogrouped_map").fn(spark, d).collect()
        }
        assert out == {4: 3, 5: 0}, out
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_mrr_first_hit_rank_and_top10_miss(spark):
    """Pin q_rank_mrr's boundary rules on a hand-built corpus: at a
    sim TIE the smaller vec_id ranks first (the wrong-label twin id 1
    beats the same-label twin id 2, so the first hit is rank 2 ->
    rr 2520//2 = 1260), and a same-label candidate pushed past rank 10
    by 12 nearer wrong-label vectors is a MISS (rr 0, n_hit 0) even
    though it exists."""
    import os
    import shutil
    import tempfile
    import uuid

    from jsmr_spark.registry import get_query

    rows = [
        # queries (vec_id % 50 == 0)
        (0, [1.0, 0.0], 1),
        (50, [0.0, 1.0], 2),
        # query 0's same-label twin: sim 1.0 -> rank 1 -> rr 2520
        (2, [1.0, 0.0], 1),
        # query 50's only same-label candidate sits at sim 0 -> rank >10
        (1, [1.0, 0.0], 2),
        # 12 wrong-label candidates near query 50 (sim ~1) bury it
    ] + [(101 + i, [0.01 * (i + 1), 1.0], 3) for i in range(12)]
    df = spark.createDataFrame(
        [(i, [float(x) for x in e], lb) for i, e, lb in rows],
        "vec_id long, embedding array<float>, label int",
    )
    d = os.path.join(tempfile.gettempdir(), f"jsmr_mrr_{uuid.uuid4().hex[:8]}")
    try:
        df.write.parquet(os.path.join(d, "embeddings.parquet"))
        out = {
            r.label: (r.n_queries, r.n_hit, r.rr_scaled_sum, r.mrr)
            for r in get_query("q_rank_mrr").fn(spark, d).collect()
        }
        assert out == {1: (1, 1, 1260, 0.5), 2: (1, 0, 0, 0.0)}, out
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_acf_alternating_series_and_gap_drops_pairs(spark):
    """Pin q_ts_acf on constructed hourly counts: a 1,2,1,2,... series
    gives acf exactly -1 at lag 1, +1 at lag 2, -1 at lag 3; a series
    with a missing hour must DROP the pairs that would span the gap
    (n_pairs counts only clock-contiguous pairs) and a zero-variance
    side yields NULL, not a crash."""
    import datetime as dt
    import os
    import shutil
    import tempfile
    import uuid

    from jsmr_spark.registry import get_query

    t0 = dt.datetime(2024, 5, 1, 0, 0, 0)
    rows = []
    eid = 0

    def emit(et, hour, count):
        nonlocal eid
        for j in range(count):
            eid += 1
            rows.append(
                (eid, t0 + dt.timedelta(hours=hour, minutes=j), 1, et, 1.0, "{}")
            )

    for h, c in enumerate([1, 2, 1, 2, 1, 2]):
        emit("x", h, c)
    # y: hours 0,1 then a GAP at hour 2, then 3,4; later side constant
    for h, c in [(0, 1), (1, 2), (3, 1), (4, 2)]:
        emit("y", h, c)
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = os.path.join(tempfile.gettempdir(), f"jsmr_acf_{uuid.uuid4().hex[:8]}")
    try:
        df.write.parquet(os.path.join(d, "events.parquet"))
        out = {
            (r.event_type, r.lag_h): (r.n_pairs, r.acf)
            for r in get_query("q_ts_acf").fn(spark, d).collect()
        }
        assert out[("x", 1)] == (5, -1.0), out
        assert out[("x", 2)] == (4, 1.0), out
        assert out[("x", 3)] == (3, -1.0), out
        # gap: only (h1,h0) and (h4,h3) survive lag 1; both later
        # values are 2 -> zero variance -> NULL acf
        assert out[("y", 1)] == (2, None), out
        # lag 2 would need h2/h5 partners -> no clock-contiguous pairs
        assert ("y", 2) not in out, out
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_kmv_below_k_is_exact_and_merge_unions_types(spark):
    """Below k distinct values the KMV sketch IS the value set: every
    per-type estimate must equal the exact count, and the ALL row must
    estimate the UNION of the per-type sketches (15 distinct users
    across two overlapping 10-user types), not their sum."""
    import datetime as dt
    import os
    import shutil
    import tempfile
    import uuid

    from jsmr_spark.registry import get_query

    t0 = dt.datetime(2024, 6, 1, 0, 0, 0)
    rows = []
    eid = 0
    for u in range(1, 11):  # type a: users 1..10
        eid += 1
        rows.append((eid, t0, u, "a", 1.0, "{}"))
    for u in range(6, 16):  # type b: users 6..15 (5 overlap)
        eid += 1
        rows.append((eid, t0, u, "b", 1.0, "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = os.path.join(tempfile.gettempdir(), f"jsmr_kmv_{uuid.uuid4().hex[:8]}")
    try:
        df.write.parquet(os.path.join(d, "events.parquet"))
        out = {
            r.event_type: (r.n_exact, r.n_est, r.est_ok)
            for r in get_query("q_sketch_kmv").fn(spark, d).collect()
        }
        assert out == {
            "a": (10, 10, True),
            "b": (10, 10, True),
            "ALL": (15, 15, True),
        }, out
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_skew_report_exact_shares_and_tie_order(spark):
    """Pin q_skew_report's integer arithmetic on a known histogram:
    user 1 x7, user 2 x3, users 3..12 x1 -> median key 1, user 1 is
    350000 ppm and 70 tenths-of-median; count ties rank by user_id."""
    import datetime as dt
    import os
    import shutil
    import tempfile
    import uuid

    from jsmr_spark.registry import get_query

    t0 = dt.datetime(2024, 7, 1, 0, 0, 0)
    rows, eid = [], 0
    for u, c in [(1, 7), (2, 3)] + [(u, 1) for u in range(3, 13)]:
        for _ in range(c):
            eid += 1
            rows.append((eid, t0, u, "view", 1.0, "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = os.path.join(tempfile.gettempdir(), f"jsmr_skr_{uuid.uuid4().hex[:8]}")
    try:
        df.write.parquet(os.path.join(d, "events.parquet"))
        out = {
            r.rnk: (r.user_id, r.n_rows_key, r.share_ppm, r.x10_vs_median,
                    r.n_keys, r.n_rows)
            for r in get_query("q_skew_report").fn(spark, d).collect()
        }
        assert out[1] == (1, 7, 350000, 70, 12, 20), out
        assert out[2] == (2, 3, 150000, 30, 12, 20), out
        # ties at count 1 rank by user_id ascending
        assert [out[r][0] for r in range(3, 11)] == list(range(3, 11)), out
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_asof_nearest_tie_gap_cutoff_and_bucket_edge(spark):
    """Pin q_join_asof_nearest's rules: an equidistant before/after
    pair resolves to the EARLIER view; a nearest view outside the
    1-hour gap leaves the click unmatched (NULLs survive); an exact-ts
    view labels 'exact' with gap 0. The +-30 min pair straddles an
    hour-bucket boundary, so the match only exists if the bucket
    fan-out reaches the adjacent bucket."""
    import datetime as dt
    import os
    import shutil
    import tempfile
    import uuid

    from jsmr_spark.registry import get_query

    t0 = dt.datetime(2024, 7, 1, 0, 15, 0)  # near the hour edge
    rows = [
        # user 1: views 30 min before and after the click (tie -> view 1)
        (1, t0 - dt.timedelta(minutes=30), 1, "view", 0.0, "{}"),
        (2, t0 + dt.timedelta(minutes=30), 1, "view", 0.0, "{}"),
        (3, t0, 1, "click", 0.0, "{}"),
        # user 2: only view is 90 min away -> unmatched
        (4, t0 + dt.timedelta(minutes=90), 2, "view", 0.0, "{}"),
        (5, t0, 2, "click", 0.0, "{}"),
        # user 3: view at exactly the click ts
        (6, t0, 3, "view", 0.0, "{}"),
        (7, t0, 3, "click", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = os.path.join(tempfile.gettempdir(), f"jsmr_nrst_{uuid.uuid4().hex[:8]}")
    try:
        df.write.parquet(os.path.join(d, "events.parquet"))
        out = {
            r.click_id: (r.view_id, r.gap_us, r.direction)
            for r in get_query("q_join_asof_nearest").fn(spark, d).collect()
        }
        assert out[3] == (1, 1_800_000_000, "before"), out
        assert out[5] == (None, None, None), out
        assert out[7] == (6, 0, "exact"), out
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_ccnet_buckets_order_by_fluency_and_partition_exactly(spark):
    """Pin q_text_ccnet_bucket's semantics on a constructed corpus:
    9 docs split into exact tertiles (3/3/3), the most predictable
    documents (one repeated bigram) land in head, the all-unique-token
    documents land in tail, and the doc_id sums prove the membership
    partition is exact and disjoint."""
    import os
    import shutil
    import tempfile
    import uuid

    from jsmr_spark.registry import get_query

    fluent = "a b a b a b a b a b"
    medium = "c d e c d f c g d h"
    rows = (
        [(i, fluent, "en", "w", len(fluent)) for i in (1, 2, 3)]
        + [(i, medium, "en", "w", len(medium)) for i in (4, 5, 6)]
        + [
            (i, " ".join(f"u{i}t{j}" for j in range(10)), "en", "w", 60)
            for i in (7, 8, 9)
        ]
    )
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = os.path.join(tempfile.gettempdir(), f"jsmr_ccn_{uuid.uuid4().hex[:8]}")
    try:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        out = {
            r.bucket: (r.n_docs, r.doc_id_sum)
            for r in get_query("q_text_ccnet_bucket").fn(spark, d).collect()
        }
        assert out == {
            "head": (3, 1 + 2 + 3),
            "middle": (3, 4 + 5 + 6),
            "tail": (3, 7 + 8 + 9),
        }, out
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_rfm_scores_align_and_nonbuyers_are_absent(spark):
    """Pin q_session_rfm: 5 users with strictly increasing recency,
    frequency, and spend land on the diagonal cells (i,i,i) with their
    own user_id as the membership sum; a user with views but no
    purchases appears in no cell."""
    import datetime as dt
    import os
    import shutil
    import tempfile
    import uuid

    from jsmr_spark.registry import get_query

    t0 = dt.datetime(2024, 8, 1, 0, 0, 0)
    rows, eid = [], 0
    for u in range(1, 6):  # user u: u purchases, last at t0+u days, value u dollars
        for j in range(u):
            eid += 1
            rows.append(
                (eid, t0 + dt.timedelta(days=u, minutes=j), u, "purchase",
                 float(u), "{}")
            )
    eid += 1
    rows.append((eid, t0, 9, "view", 100.0, "{}"))  # non-buyer
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = os.path.join(tempfile.gettempdir(), f"jsmr_rfm_{uuid.uuid4().hex[:8]}")
    try:
        df.write.parquet(os.path.join(d, "events.parquet"))
        out = {
            (r.r_score, r.f_score, r.m_score): (r.n_users, r.monetary_cents,
                                                r.user_id_sum)
            for r in get_query("q_session_rfm").fn(spark, d).collect()
        }
        assert out == {
            (i, i, i): (1, i * i * 100, i) for i in range(1, 6)
        }, out
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_lang_confusion_shares_and_tie_prediction(spark):
    """Pin q_text_lang_confusion on a constructed corpus: a 'bb' doc
    written entirely in 'aa' tokens lands in the (bb -> aa) cell (the
    profile-hit tie resolves to the lexicographically first language),
    and the exact ppm shares row- and column-normalize the matrix."""
    import os
    import shutil
    import tempfile
    import uuid

    from jsmr_spark.registry import get_query

    rows = [
        (1, "x x x x", "aa", "w", 7),
        (2, "x x x x", "aa", "w", 7),
        (3, "y y y y", "bb", "w", 7),
        (4, "y y y y", "bb", "w", 7),
        (5, "x x x x", "bb", "w", 7),  # bb doc in aa tokens
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = os.path.join(tempfile.gettempdir(), f"jsmr_cfm_{uuid.uuid4().hex[:8]}")
    try:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        out = {
            (r.actual_lang, r.predicted_lang): (
                r.n, r.doc_id_sum, r.share_of_actual_ppm, r.share_of_predicted_ppm
            )
            for r in get_query("q_text_lang_confusion").fn(spark, d).collect()
        }
        assert out == {
            ("aa", "aa"): (2, 3, 1000000, 666666),
            ("bb", "aa"): (1, 5, 333333, 333333),
            ("bb", "bb"): (2, 7, 666666, 1000000),
        }, out
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_calibration_bins_exact_rates(spark):
    """Pin q_ml_calibration's bin assignment and exact rates: scores
    10 and 90 cents with max 90 land in bins 1 and 9 (c*10 // 91), a
    mixed low bin reports 250000 ppm, a pure-positive bin 1000000."""
    import datetime as dt
    import os
    import shutil
    import tempfile
    import uuid

    from jsmr_spark.registry import get_query

    t0 = dt.datetime(2024, 9, 1, 0, 0, 0)
    rows = [
        (1, t0, 1, "view", 0.10, "{}"),
        (2, t0, 1, "view", 0.10, "{}"),
        (3, t0, 1, "view", 0.10, "{}"),
        (4, t0, 1, "purchase", 0.10, "{}"),
        (5, t0, 1, "purchase", 0.90, "{}"),
        (6, t0, 1, "purchase", 0.90, "{}"),
        (7, t0, 1, "signup", 99.0, "{}"),  # other types excluded
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = os.path.join(tempfile.gettempdir(), f"jsmr_cal_{uuid.uuid4().hex[:8]}")
    try:
        df.write.parquet(os.path.join(d, "events.parquet"))
        out = {
            r.bin: (r.n, r.n_pos, r.pos_rate_ppm, r.sum_score_cents,
                    r.mean_score_cents)
            for r in get_query("q_ml_calibration").fn(spark, d).collect()
        }
        assert out == {
            1: (4, 1, 250000, 40, 10.0),
            9: (2, 2, 1000000, 180, 90.0),
        }, out
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaks_islands_and_month_boundary(spark):
    """Pin q_win_streaks' islands arithmetic: runs split exactly at
    calendar gaps, a month boundary is NOT a gap (Jan 31 -> Feb 1),
    multiple events on one day collapse to one active day."""
    import datetime as dt
    import os
    import shutil
    import tempfile
    import uuid

    from jsmr_spark.registry import get_query

    def ev(eid, day, user):
        return (eid, dt.datetime(2024, 1, 1, 9) + dt.timedelta(days=day - 1),
                user, "view", 1.0, "{}")

    rows = (
        # user 1: days 1,2,3 | 5 | 7,8  (three streaks, longest 3)
        [ev(i, d, 1) for i, d in enumerate([1, 2, 3, 5, 7, 8], start=1)]
        # user 1: a second event on day 2 must not double-count
        + [ev(99, 2, 1)]
        # user 2: Jan 30, Jan 31, Feb 1, Feb 2 -> ONE streak of 4
        + [ev(100 + i, 30 + i, 2) for i in range(4)]
        # user 3: single day
        + [ev(200, 10, 3)]
    )
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = os.path.join(tempfile.gettempdir(), f"jsmr_stk_{uuid.uuid4().hex[:8]}")
    try:
        df.write.parquet(os.path.join(d, "events.parquet"))
        out = {
            r.user_id: (r.active_days, r.n_streaks, r.longest_streak)
            for r in get_query("q_win_streaks").fn(spark, d).collect()
        }
        assert out == {1: (6, 3, 3), 2: (4, 1, 4), 3: (1, 1, 1)}, out
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_embed_outliers_exact_distance_and_tie(spark):
    """Pin q_embed_outliers against a literal integer recomputation of
    dist2n2 on a hand-built corpus, including the vec_id tie-break for
    two identical far vectors."""
    import os
    import shutil
    import tempfile
    import uuid

    from jsmr_spark.registry import get_query

    vecs = [(i, [1.0, 0.0], 0) for i in range(1, 11)] + [
        (20, [-5.0, 5.0], 1),
        (21, [-5.0, 5.0], 1),
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in e], lb) for i, e, lb in vecs],
        "vec_id long, embedding array<float>, label int",
    )
    # literal recomputation at the 1e-3 grid
    q = [(i, [round(x * 1000) for x in e]) for i, e, _ in vecs]
    n = len(q)
    s = [sum(v[d] for _, v in q) for d in range(2)]
    dist = {i: sum((n * v[d] - s[d]) ** 2 for d in range(2)) for i, v in q}
    expect = sorted(dist.items(), key=lambda kv: (-kv[1], kv[0]))[:10]

    d = os.path.join(tempfile.gettempdir(), f"jsmr_out_{uuid.uuid4().hex[:8]}")
    try:
        df.write.parquet(os.path.join(d, "embeddings.parquet"))
        got = [
            (r.vec_id, r.dist2n2)
            for r in sorted(
                get_query("q_embed_outliers").fn(spark, d).collect(),
                key=lambda r: r.rnk,
            )
        ]
        assert got == expect, (got, expect)
        assert got[0][0] == 20 and got[1][0] == 21  # tie -> smaller vec_id
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_gini_zero_on_equal_and_exact_on_skewed(spark):
    """Pin q_agg_gini's rank identity: equal spends give exactly 0;
    spends [1,1,1,97] cents give numerator 288 and gini 0.72."""
    import datetime as dt
    import os
    import shutil
    import tempfile
    import uuid

    from jsmr_spark.registry import get_query

    t0 = dt.datetime(2024, 10, 1, 0, 0, 0)
    rows = [
        (1, t0, 1, "eq", 0.25, "{}"),
        (2, t0, 2, "eq", 0.25, "{}"),
        (3, t0, 3, "eq", 0.25, "{}"),
        (4, t0, 4, "eq", 0.25, "{}"),
        (5, t0, 1, "sk", 0.01, "{}"),
        (6, t0, 2, "sk", 0.01, "{}"),
        (7, t0, 3, "sk", 0.01, "{}"),
        (8, t0, 4, "sk", 0.97, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = os.path.join(tempfile.gettempdir(), f"jsmr_gini_{uuid.uuid4().hex[:8]}")
    try:
        df.write.parquet(os.path.join(d, "events.parquet"))
        out = {
            r.event_type: (r.n_users, r.total_cents, r.gini_num, r.gini)
            for r in get_query("q_agg_gini").fn(spark, d).collect()
        }
        assert out == {"eq": (4, 100, 0, 0.0), "sk": (4, 100, 288, 0.72)}, out
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_entropy_zero_on_constant_and_lnk_on_uniform(spark):
    """Pin q_text_entropy's identity: a language of one repeated token
    has exactly 0 nats; k distinct once-only tokens have ln(k) (to the
    1e-6 grid)."""
    import math
    import os
    import shutil
    import tempfile
    import uuid

    from jsmr_spark.registry import get_query

    k = 8
    rows = [
        (1, " ".join(["same"] * 12), "cc", "w", 1),
        (2, " ".join(f"t{j}" for j in range(k)), "uu", "w", 1),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = os.path.join(tempfile.gettempdir(), f"jsmr_ent_{uuid.uuid4().hex[:8]}")
    try:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        out = {
            r.lang: (r.n_tokens, r.n_distinct, r.clnc_scaled, r.entropy_nats)
            for r in get_query("q_text_entropy").fn(spark, d).collect()
        }
        lnq = lambda x: math.floor(math.log(x) * 1_000_000 + 0.5)
        assert out["cc"] == (12, 1, 12 * lnq(12), 0.0), out
        assert out["uu"] == (k, k, 0, round(lnq(k) / 1e6, 4)), out
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_pareto_n80_boundary_rules(spark):
    """Pin q_agg_pareto's crossing rule: a single dominant user who
    holds exactly 80% yields n80 = 1 (the integer test 5*cum >= 4*total
    includes the crossing row); an equal split of 5 users needs 4 of
    them to reach 80%."""
    import datetime as dt
    import os
    import shutil
    import tempfile
    import uuid

    from jsmr_spark.registry import get_query

    t0 = dt.datetime(2024, 11, 1, 0, 0, 0)
    rows = [
        # 'dom': user 1 has exactly 80 of 100 cents
        (1, t0, 1, "dom", 0.80, "{}"),
        (2, t0, 2, "dom", 0.10, "{}"),
        (3, t0, 3, "dom", 0.10, "{}"),
        # 'flat': five equal users, 20 cents each -> n80 = 4
        (4, t0, 1, "flat", 0.20, "{}"),
        (5, t0, 2, "flat", 0.20, "{}"),
        (6, t0, 3, "flat", 0.20, "{}"),
        (7, t0, 4, "flat", 0.20, "{}"),
        (8, t0, 5, "flat", 0.20, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = os.path.join(tempfile.gettempdir(), f"jsmr_p80_{uuid.uuid4().hex[:8]}")
    try:
        df.write.parquet(os.path.join(d, "events.parquet"))
        out = {
            r.event_type: (r.n_users, r.total_cents, r.n80, r.n80_ppm)
            for r in get_query("q_agg_pareto").fn(spark, d).collect()
        }
        assert out == {
            "dom": (3, 100, 1, 333333),
            "flat": (5, 100, 4, 800000),
        }, out
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_time_travel_reads_historical_not_latest(spark):
    """source_time_travel must resolve version 2 through the manifest
    and read the HISTORICAL subset: with doc ids 0..7, v2 holds ids
    with doc_id %% 4 <= 2 (six docs), not v3's full eight."""
    import os
    import shutil
    import tempfile
    import uuid

    from jsmr_spark.registry import get_query

    rows = [(i, f"t{i}", "en", "w", 10 + i) for i in range(8)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = os.path.join(tempfile.gettempdir(), f"jsmr_ttt_{uuid.uuid4().hex[:8]}")
    try:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        r = get_query("source_time_travel").fn(spark, d).collect()[0]
        keep = [i for i in range(8) if i % 4 <= 2]
        assert (r.version_read, r.n_versions, r.n_docs, r.sum_chars) == (
            2, 3, len(keep), sum(10 + i for i in keep)
        ), r
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_dup_rate_attributes_cross_source_copies(spark):
    """q_dedup_rate_by_source must count a duplicate against EVERY
    source carrying a copy: the same text in sources A and B marks one
    doc in each; unique docs stay clean; ppm is exact floor division."""
    import os
    import shutil
    import tempfile
    import uuid

    from jsmr_spark.registry import get_query

    rows = [
        (1, "same text here", "en", "A", 10),
        (2, "same text here", "en", "B", 10),
        (3, "unique a", "en", "A", 8),
        (4, "unique b1", "en", "B", 8),
        (5, "unique b2", "en", "B", 8),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = os.path.join(tempfile.gettempdir(), f"jsmr_dps_{uuid.uuid4().hex[:8]}")
    try:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        out = {
            r.source: (r.n_docs, r.n_dup_docs, r.dup_ppm)
            for r in get_query("q_dedup_rate_by_source").fn(spark, d).collect()
        }
        assert out == {"A": (2, 1, 500000), "B": (3, 1, 333333)}, out
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_novelty_shared_vs_unique_shingles(spark):
    """Pin q_text_novelty: two docs sharing their full shingle set have
    0 novel shingles; a doc with entirely unique text is 1000000 ppm;
    a doc sharing exactly one of its three shingles lands at 666666."""
    import os
    import shutil
    import tempfile
    import uuid

    from jsmr_spark.registry import get_query

    rows = [
        # aa: identical docs -> every shingle shared -> 0 ppm
        (1, "a b c d", "aa", "w", 7),
        (2, "a b c d", "aa", "w", 7),
        # bb: unique doc -> 1000000 ppm
        (3, "p q r s", "bb", "w", 7),
        # cc: shingles {c d e, d e f, e f g}; 'c d e'? none shared with
        # aa ('a b c','b c d') -> craft overlap: doc sharing 'b c d'
        (4, "b c d x y", "cc", "w", 9),  # shingles: 'b c d','c d x','d x y'
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = os.path.join(tempfile.gettempdir(), f"jsmr_nov_{uuid.uuid4().hex[:8]}")
    try:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        out = {
            r.lang: (r.n_docs, r.n_shingles, r.n_novel, r.novelty_ppm)
            for r in get_query("q_text_novelty").fn(spark, d).collect()
        }
        # aa docs: shingles {'a b c','b c d'} x2 docs; 'b c d' is also
        # in doc 4, 'a b c' appears in BOTH aa docs -> nothing novel
        assert out["aa"] == (2, 4, 0, 0), out
        assert out["bb"] == (1, 2, 2, 1000000), out
        # doc 4: 'b c d' shared with aa, 'c d x'/'d x y' unique
        assert out["cc"] == (1, 3, 2, 666666), out
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_profile_drift_matches_literal_recomputation(spark):
    """Pin q_profile_drift against a hashlib recomputation of the
    split boundary, per-half counts, mean lengths, and the exact TVD
    numerator on a hand-built corpus."""
    import hashlib
    import os
    import shutil
    import tempfile
    import uuid
    from collections import Counter

    from jsmr_spark.registry import get_query

    rows = [(i, f"text {i}", ["en", "de", "fr"][i % 3], "w", 10 + i)
            for i in range(1, 41)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )

    def bucket(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:12], 16) % 100

    a = [(i, lang, nc) for i, _, lang, _, nc in rows if bucket(i) < 50]
    b = [(i, lang, nc) for i, _, lang, _, nc in rows if bucket(i) >= 50]
    na, nb = len(a), len(b)
    ca, cb = Counter(l for _, l, _ in a), Counter(l for _, l, _ in b)
    tvd_num = sum(
        abs(ca.get(l, 0) * nb - cb.get(l, 0) * na) for l in set(ca) | set(cb)
    )
    d = os.path.join(tempfile.gettempdir(), f"jsmr_drift_{uuid.uuid4().hex[:8]}")
    try:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        r = get_query("q_profile_drift").fn(spark, d).collect()[0]
        assert (r.n_a, r.n_b, r.tvd_num) == (na, nb, tvd_num), (r, na, nb, tvd_num)
        assert r.mean_chars_a == round(sum(nc for *_, nc in a) / na, 4)
        assert r.mean_chars_b == round(sum(nc for *_, nc in b) / nb, 4)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_winsorized_clamp_decomposition(spark):
    """Pin q_agg_winsorized on a known frame: quantities 1..19 plus a
    1000 outlier; p05/p95 interpolate at rank 0.05*(n-1)/0.95*(n-1),
    the outlier clamps to p95, and win_mean equals the literal
    decomposition mid_sum + n_low*p05 + n_high*p95 over n."""
    import os
    import shutil
    import tempfile
    import uuid

    from jsmr_spark.registry import get_query

    vals = list(range(1, 20)) + [1000]  # n=20
    df = spark.createDataFrame(
        [("A", float(v)) for v in vals], "l_returnflag string, l_quantity double"
    )
    # literal recomputation (matching interpolation at rank (n-1)*q)
    s = sorted(vals)
    n = len(s)

    def q(p):
        r = (n - 1) * p
        lo, hi = s[int(r)], s[min(int(r) + 1, n - 1)]
        return lo + (hi - lo) * (r - int(r))

    p05, p95 = q(0.05), q(0.95)
    n_low = sum(1 for v in s if v < p05)
    n_high = sum(1 for v in s if v > p95)
    mid = sum(v for v in s if p05 <= v <= p95)
    win_mean = round((mid + n_low * p05 + n_high * p95) / n, 4)

    d = os.path.join(tempfile.gettempdir(), f"jsmr_win_{uuid.uuid4().hex[:8]}")
    try:
        df.write.parquet(os.path.join(d, "lineitem.parquet"))
        r = get_query("q_agg_winsorized").fn(spark, d).collect()[0]
        assert (r.p05, r.p95, r.n_low, r.n_high, r.win_mean) == (
            round(p05, 4), round(p95, 4), n_low, n_high, win_mean
        ), (r, p05, p95, n_low, n_high, win_mean)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_geo_knn_rank_order_and_radius_bound(spark):
    """Pin q_geo_knn: neighbor ranks follow exact integer d2 with the
    nbr-id tie-break, a point with fewer than k radius-neighbors emits
    only what exists, and results match a literal brute-force kNN over
    the same synthetic coordinates."""
    import datetime as dt
    import os
    import shutil
    import tempfile
    import uuid

    from jsmr_spark.queries.sampling_geo import (
        GEO_DOMAIN, GEO_KNN_K, GEO_PX, GEO_PY, GEO_RADIUS,
    )
    from jsmr_spark.registry import get_query

    users = [1, 2, 3, 7, 2001, 40039]
    t0 = dt.datetime(2024, 12, 1, 0, 0, 0)
    rows = [(i + 1, t0, u, "view", 1.0, "{}") for i, u in enumerate(users)]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    pts = {u: ((u * GEO_PX) % GEO_DOMAIN, (u * GEO_PY) % GEO_DOMAIN) for u in users}
    expect = {}
    for u, (x, y) in pts.items():
        cand = sorted(
            (
                ((x - a) ** 2 + (y - b) ** 2, v)
                for v, (a, b) in pts.items()
                if v != u and (x - a) ** 2 + (y - b) ** 2 <= GEO_RADIUS**2
            ),
        )[:GEO_KNN_K]
        for r, (d2, v) in enumerate(cand, start=1):
            expect[(u, r)] = (v, d2)
    d = os.path.join(tempfile.gettempdir(), f"jsmr_knn_{uuid.uuid4().hex[:8]}")
    try:
        df.write.parquet(os.path.join(d, "events.parquet"))
        got = {
            (r.user_id, r.rnk): (r.nbr, r.d2)
            for r in get_query("q_geo_knn").fn(spark, d).collect()
        }
        assert got == expect, (got, expect)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_kmv_intersect_exact_below_k(spark):
    """Below k per side the KMV inclusion-exclusion is exact: sides of
    10 and 12 users overlapping in 4 give est_inter == 4 and the union
    estimate == 18, with est_ok true."""
    import datetime as dt
    import os
    import shutil
    import tempfile
    import uuid

    from jsmr_spark.registry import get_query

    t0 = dt.datetime(2025, 1, 1, 0, 0, 0)
    rows, eid = [], 0
    for u in range(1, 11):  # purchase: users 1..10
        eid += 1
        rows.append((eid, t0, u, "purchase", 1.0, "{}"))
    for u in range(7, 19):  # view: users 7..18 (overlap 7..10)
        eid += 1
        rows.append((eid, t0, u, "view", 1.0, "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = os.path.join(tempfile.gettempdir(), f"jsmr_kmi_{uuid.uuid4().hex[:8]}")
    try:
        df.write.parquet(os.path.join(d, "events.parquet"))
        r = get_query("q_sketch_kmv_intersect").fn(spark, d).collect()[0]
        assert (
            r.n_a_exact, r.n_b_exact, r.n_inter_exact,
            r.est_a, r.est_b, r.est_union, r.est_inter, r.est_ok,
        ) == (10, 12, 4, 10, 12, 18, 4, True), r
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_concurrency_sweep_counts_overlaps_and_half_open_ends(spark):
    """Pin q_ts_concurrency: three overlapping single-day user spans
    peak at 3; a span STARTING at the exact microsecond another ends
    does not overlap it (half-open [s, e+1) semantics)."""
    import datetime as dt
    import os
    import shutil
    import tempfile
    import uuid

    from jsmr_spark.registry import get_query

    t0 = dt.datetime(2025, 2, 1, 10, 0, 0)
    m = dt.timedelta(minutes=1)
    rows = [
        # user 1 span 10:00-10:10, user 2 span 10:05-10:15,
        # user 3 span 10:08-10:09 -> all three open at 10:08
        (1, t0, 1, "view", 0.0, "{}"),
        (2, t0 + 10 * m, 1, "view", 0.0, "{}"),
        (3, t0 + 5 * m, 2, "view", 0.0, "{}"),
        (4, t0 + 15 * m, 2, "view", 0.0, "{}"),
        (5, t0 + 8 * m, 3, "view", 0.0, "{}"),
        (6, t0 + 9 * m, 3, "view", 0.0, "{}"),
        # user 4 starts 1 microsecond AFTER user 2's span closes:
        # e = last+1us, so a start at exactly last+1us never overlaps
        (7, t0 + 15 * m + dt.timedelta(microseconds=1), 4, "view", 0.0, "{}"),
        (8, t0 + 20 * m, 4, "view", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = os.path.join(tempfile.gettempdir(), f"jsmr_conc_{uuid.uuid4().hex[:8]}")
    try:
        df.write.parquet(os.path.join(d, "events.parquet"))
        out = {
            str(r.day): (r.max_concurrent, r.n_instants)
            for r in get_query("q_ts_concurrency").fn(spark, d).collect()
        }
        # peak 3 (users 1,2,3 at 10:08); user 4 alone after 2 closes.
        # 7 distinct instants, not 8: user 2's end (last+1us) IS user
        # 4's start instant and the two deltas net to 0 there — the
        # same-instant merge that makes the prefix sum tie-free.
        assert out == {"2025-02-01": (3, 7)}, out
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_naive_bayes_separable_vocab(spark):
    """Two languages with fully disjoint vocabularies must classify
    perfectly, and the model's smoothing must not flip the argmax even
    for the shortest doc."""
    import os
    import tempfile

    from jsmr_spark.registry import get_query

    rows_in = [
        (1, "cat cat dog", "aa"),
        (2, "dog cat cat cat", "aa"),
        (3, "rock stone rock", "bb"),
        (4, "stone", "bb"),
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(i, t, len(t), l, "src0") for i, t, l in rows_in],
            "doc_id long, text string, n_chars long, lang string, source string",
        ).write.parquet(os.path.join(d, "documents.parquet"))
        out = {r.doc_id: r for r in get_query("q_ml_naive_bayes").fn(spark, d).collect()}
    assert len(out) == 4
    assert all(r.correct for r in out.values()), out
    assert out[4].pred_lang == "bb"


def test_lttb_selects_the_spike(spark):
    """Three hour-buckets, a flat series with one spike in the interior
    bucket: the spike spans the largest triangle with the neighbor
    means and must be the selected point; boundary buckets (no
    prev/next) emit nothing."""
    import datetime as dt
    import os
    import tempfile

    from jsmr_spark.registry import get_query

    t0 = dt.datetime(2024, 3, 1, 0, 0, 0)
    evs = [
        (1, t0, 7, "tick", 1.00),
        (2, t0 + dt.timedelta(minutes=59), 7, "tick", 1.00),
        (3, t0 + dt.timedelta(hours=1, minutes=5), 7, "tick", 1.00),
        (4, t0 + dt.timedelta(hours=1, minutes=30), 7, "tick", 50.00),  # spike
        (5, t0 + dt.timedelta(hours=1, minutes=55), 7, "tick", 1.00),
        (6, t0 + dt.timedelta(hours=2, minutes=10), 7, "tick", 1.00),
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(i, ts, u, et, v, "{}") for i, ts, u, et, v in evs],
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
        ).write.parquet(os.path.join(d, "events.parquet"))
        rows = get_query("q_ts_lttb").fn(spark, d).collect()
    assert len(rows) == 1, rows  # only the interior bucket selects
    assert rows[0].event_id == 4 and rows[0].yc == 5000


def test_kcore_peel_invariants(spark):
    """Every surviving node's residual degree is >= k, and survivors
    are a subset of the nodes whose ROUND-1 degree was already >= k
    (peeling only removes)."""
    from jsmr_spark.queries.graph import KCORE_K, kcore_frame
    from jsmr_spark.queries.sampling_geo import geo_pairs
    from jsmr_spark.queries.graph import TRI_RADIUS
    from tests.conftest import SF_DIR as sf

    out = {r.user_id: r.residual_degree for r in kcore_frame(spark, sf).collect()}
    assert all(d >= KCORE_K for d in out.values())
    e = geo_pairs(spark, sf, TRI_RADIUS).select("user_a", "user_b")
    deg = {}
    for r in e.collect():
        deg[r.user_a] = deg.get(r.user_a, 0) + 1
        deg[r.user_b] = deg.get(r.user_b, 0) + 1
    round1 = {u for u, d in deg.items() if d >= KCORE_K}
    assert set(out) <= round1
    # residual degrees can only have shrunk vs the full graph
    assert all(out[u] <= deg[u] for u in out)


def test_corr_matrix_planted_correlations(spark):
    """Plant qty == price (r = 1.0 exactly) and a CONSTANT discount
    (zero variance -> NULL r for every pair that touches it)."""
    import datetime as dt
    import os
    import tempfile

    from jsmr_spark.registry import get_query

    rows_in = [(i, float(i + 1), float(i + 1), 0.05, 0.01 * (i % 3)) for i in range(8)]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [
                (1, 1, 1, i, q, p, disc, tax, "N", "O",
                 dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2),
                 dt.datetime(2024, 1, 3), "c", "m", "x")
                for i, q, p, disc, tax in rows_in
            ],
            "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
            "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
            "l_returnflag string, l_linestatus string, l_shipdate timestamp, "
            "l_commitdate timestamp, l_receiptdate timestamp, "
            "l_shipinstruct string, l_shipmode string, l_comment string",
        ).write.parquet(os.path.join(d, "lineitem.parquet"))
        out = {
            (r.feat_x, r.feat_y): r.corr
            for r in get_query("q_agg_corr_matrix").fn(spark, d).collect()
        }
    assert len(out) == 6
    assert out[("qty", "price")] == 1.0
    assert out[("qty", "disc")] is None and out[("price", "disc")] is None
    assert out[("disc", "tax")] is None


def test_vocab_coverage_hand_counts(spark):
    """7-token vocabulary with known skew: K=5 must cover exactly the
    top-5 counts; K=10/20 cover everything."""
    import os
    import tempfile

    from jsmr_spark.registry import get_query

    # counts: a:5 b:4 c:3 d:2 e:2 f:1 g:1  (total 18; top5 = 16)
    text = " ".join(["a"] * 5 + ["b"] * 4 + ["c"] * 3 + ["d"] * 2 + ["e"] * 2 + ["f", "g"])
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(1, text, len(text), "en", "src0")],
            "doc_id long, text string, n_chars long, lang string, source string",
        ).write.parquet(os.path.join(d, "documents.parquet"))
        out = {r.k: r for r in get_query("q_text_vocab_coverage").fn(spark, d).collect()}
    assert out[5].vocab_size == 7 and out[5].total_tokens == 18
    assert out[5].covered_tokens == 16
    assert out[5].coverage_ppm == 16 * 1000000 // 18
    assert out[10].covered_tokens == 18 and out[20].coverage_ppm == 1000000


def test_dedup_priority_prefers_even_then_low_index(spark):
    """Same text from src1/src2/src4: src2 wins (even beats odd, then
    lower index); a group entirely from odd sources keeps the lowest
    odd index."""
    import os
    import tempfile

    from jsmr_spark.registry import get_query

    docs = [
        (1, "same text", "src1"),
        (2, "same text", "src4"),
        (3, "same text", "src2"),
        (4, "other text", "src3"),
        (5, "other text", "src5"),
        (6, "unique", "src1"),
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(i, t, len(t), "en", s) for i, t, s in docs],
            "doc_id long, text string, n_chars long, lang string, source string",
        ).write.parquet(os.path.join(d, "documents.parquet"))
        rows = get_query("q_mix_dedup_priority").fn(spark, d).collect()
    assert len(rows) == 3  # full keep-table census: one row per digest
    out = {r.kept_source: r for r in rows if r.is_dup_group}
    assert len(out) == 2  # the unique doc is not a dup group
    assert out["src2"].kept_doc_id == 3 and out["src2"].n_copies == 3
    assert out["src2"].n_sources == 3
    assert out["src3"].kept_doc_id == 4 and out["src3"].n_copies == 2


def test_kfold_partition_of_corpus(spark):
    """Folds partition the corpus: every doc lands in exactly one of K
    folds, counts sum to the corpus, and token shares sum to <= 1e6
    (truncating ppm)."""
    from jsmr_spark.queries.pipeline import KFOLD_K
    from jsmr_spark.registry import get_query
    from tests.conftest import SF_DIR as sf

    rows = get_query("q_split_kfold").fn(spark, sf).collect()
    assert {r.fold for r in rows} <= set(range(KFOLD_K))
    n_docs = spark.read.parquet(f"{sf}/documents.parquet").count()
    assert sum(r.n_docs for r in rows) == n_docs
    assert sum(r.token_share_ppm for r in rows) <= 1_000_000


def test_bag_of_words_flags_reorderings(spark):
    """'a b c' vs 'c b a' collide on the bag signature with TWO exact
    variants (a true reordering); an exact-dup pair collides with ONE."""
    import os
    import tempfile

    from jsmr_spark.registry import get_query

    docs = [
        (1, "a b c", "src0"),
        (2, "c b a", "src1"),
        (3, "x y", "src0"),
        (4, "x y", "src2"),
        (5, "lonely", "src0"),
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(i, t, len(t), "en", s) for i, t, s in docs],
            "doc_id long, text string, n_chars long, lang string, source string",
        ).write.parquet(os.path.join(d, "documents.parquet"))
        rows = get_query("q_dedup_bag_of_words").fn(spark, d).collect()
    assert len(rows) == 3  # full census: one row per distinct bag
    out = {r.kept_doc_id: r for r in rows if r.n_docs > 1}
    assert len(out) == 2
    assert out[1].has_reordered and out[1].n_exact_variants == 2
    assert not out[3].has_reordered and out[3].n_docs == 2


def test_control_plane_collect_bound_is_load_bearing(spark):
    """The graph recursions collect their edge list driver-side, valid
    only while the edge source is dimension-keyed (<= nations^2 rows).
    The bound must FAIL LOUDLY on an oversized source, and the plan must
    never materialize more than bound+1 rows on the driver."""
    import pytest

    from jsmr_spark.queries.graph import _collect_control_plane

    small = spark.range(10).selectExpr("id AS src", "id AS dst")
    assert len(_collect_control_plane(small, "test-small")) == 10

    big = spark.range(10_000).selectExpr("id AS src", "id AS dst")
    with pytest.raises(RuntimeError, match="control-plane bound"):
        _collect_control_plane(big, "test-big")

    # exactly at the bound: allowed
    at = spark.range(625).selectExpr("id AS src", "id AS dst")
    assert len(_collect_control_plane(at, "test-at")) == 625


def test_holt_pack_band_guard_raises(spark, tmp_path):
    """q_ts_holt packs (level, trend) into one BIGINT; out-of-band
    values must FAIL LOUDLY (ADVICE r8) instead of silently wrapping
    into the neighboring bit field on BOTH engines (which would keep
    the differential hash green around a wrong statistic)."""
    import datetime

    import pytest

    from jsmr_spark.registry import get_query

    # |daily dollars| >= 2^29 -> pack-time guard must trip.
    rows = [
        (1, datetime.datetime(2024, 1, 1, 8), 1, "click", 6.0e8, "{}"),
        (2, datetime.datetime(2024, 1, 2, 8), 1, "click", 6.0e8, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    df = get_query("q_ts_holt").fn(spark, str(tmp_path))
    with pytest.raises(Exception, match="packing band"):
        df.collect()

    # In-band values still compute (guard is pass-through).
    import duckdb

    rows2 = [
        (1, datetime.datetime(2024, 1, 1, 8), 1, "click", 100.0, "{}"),
        (2, datetime.datetime(2024, 1, 2, 8), 1, "click", 200.0, "{}"),
    ]
    spark.createDataFrame(
        rows2,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(str(tmp_path / "events2.parquet"))
    # point the Spark side at a dir whose events.parquet is rows2
    import os

    d2 = tmp_path / "d2"
    os.makedirs(d2)
    os.symlink(tmp_path / "events2.parquet", d2 / "events.parquet")
    got = get_query("q_ts_holt").fn(spark, str(d2)).collect()
    # l0=100, b0=0; day2: l1=(200+100+0)//2=150, b1=(150-100+0)//2=25
    assert got[0]["level_dollars"] == 150
    assert got[0]["trend_dollars"] == 25
    assert got[0]["forecast_1d_dollars"] == 175
    # DuckDB oracle must raise on the out-of-band dir too
    con2 = duckdb.connect()
    con2.execute(
        "CREATE VIEW events AS SELECT * FROM read_parquet("
        f"'{tmp_path}/events.parquet/*.parquet')"
    )
    with pytest.raises(Exception, match="packing band"):
        con2.execute(get_query("q_ts_holt").oracle).df()


def test_bootstrap_all_zero_replicate_null_semantics(spark, tmp_path):
    """Close the r9 spot-audit note on q_stats_bootstrap: a replicate
    whose Poisson weights all draw 0 for a group yields m_milli NULL;
    BOTH engines must then count it in n_replicates (count(*)) while
    excluding it from s1/s2 (sum skips NULL) — identically.

    event_id=1 as a SINGLETON group draws weight 0 in 9 of the 32
    replicates under the portable (event_id, r) hash, so this
    micro-fixture actually reaches the all-zero branch the fixture
    corpus never can (P = e^-n per replicate, n in the thousands).
    """
    import datetime
    import os

    import duckdb

    from jsmr_spark.registry import get_query
    from tests.conftest import canon_rows

    rows = [
        # the singleton group that hits all-zero replicates
        (1, datetime.datetime(2024, 1, 1, 8), 1, "solo", 3.50, "{}"),
        # a multi-row control group (never all-zero)
        (2, datetime.datetime(2024, 1, 1, 9), 2, "ctrl", 1.00, "{}"),
        (3, datetime.datetime(2024, 1, 1, 10), 2, "ctrl", 2.00, "{}"),
        (4, datetime.datetime(2024, 1, 1, 11), 2, "ctrl", 4.00, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))

    spec = get_query("q_stats_bootstrap")
    sdf = spec.fn(spark, str(tmp_path))
    s_cols, s_rows = sdf.columns, [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM read_parquet("
        f"'{tmp_path}/events.parquet/*.parquet')"
    )
    cur = con.execute(spec.oracle)
    d_cols = [d[0] for d in cur.description]
    d_rows = cur.fetchall()

    assert canon_rows(s_cols, s_rows) == canon_rows(d_cols, d_rows)

    by_type = {r["event_type"]: r for r in sdf.collect()}
    # NULL replicates still count in the denominator on both engines
    assert by_type["solo"]["n_replicates"] == 32
    # and the mean really was built from the 23 non-null replicates:
    # vc=350, so every non-null singleton replicate mean is exactly
    # 350*1000 milli regardless of the drawn weight
    assert by_type["solo"]["boot_mean_milli"] == 350 * 1000 * 23 // 32
