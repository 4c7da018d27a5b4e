"""Structured Streaming twins: replay equivalence with batch semantics
(SURVEY.md §5.2.6)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pyarrow.parquet as pq
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from jsmr_spark.io import load_table
from jsmr_spark.registry import get_query
from jsmr_spark.session import conf_override
from jsmr_spark.streaming.core import (
    _replay,
    _replay_tmp_root,
    run_dedup_stream,
    run_tumbling_stream,
    run_watermark_late_replay,
)
from tests.conftest import SF_DIR

_REPLAY_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.checkpointLocation",
    "spark.sql.streaming.checkpointFileManagerClass",
)


@pytest.fixture
def replay_root(monkeypatch):
    """A private scratch root for this test's replays, on the same
    filesystem the replays use by default, so a leftover directory
    can only be this test's."""
    root = tempfile.mkdtemp(prefix="jsmr_test_", dir=_replay_tmp_root())
    monkeypatch.setenv("SPARK_GRAFT_STREAM_TMP", root)
    yield root
    shutil.rmtree(root, ignore_errors=True)


def _replay_confs(spark) -> dict:
    return {k: spark.conf.get(k, None) for k in _REPLAY_CONFS}


def _assert_replay_cleaned_up(spark, confs_before: dict) -> None:
    """What every replay must leave behind, on success or on error: no
    running query, nothing under the scratch root, the three confs it
    sets back at their previous values."""
    assert spark.streams.active == []
    assert os.listdir(_replay_tmp_root()) == []
    assert _replay_confs(spark) == confs_before


def test_tumbling_stream_matches_batch_prefix(spark, replay_root):
    """Every window the stream emitted (watermark-closed) must carry
    exactly the batch counts; the stream may only be missing the tail
    windows still open at shutdown."""
    confs = _replay_confs(spark)
    out = run_tumbling_stream(spark, SF_DIR)
    _assert_replay_cleaned_up(spark, confs)
    streamed = {
        (r.window_start, r.window_end, r.event_type): r.n for r in out.collect()
    }
    batch = {
        (r.window_start, r.window_end, r.event_type): r.n
        for r in get_query("q_stream_tumbling").fn(spark, SF_DIR).collect()
    }
    assert streamed, "stream emitted nothing"
    for key, n in streamed.items():
        assert batch.get(key) == n, f"window {key}: stream={n} batch={batch.get(key)}"
    # sanity: the stream saw most of the timeline
    assert len(streamed) >= 0.8 * len(batch)


def test_dedup_stream_drops_redelivered_chunks(spark):
    out = run_dedup_stream(spark, SF_DIR)
    n_events = load_table(spark, SF_DIR, "events").count()
    got = out.select("event_id").distinct().count()
    assert out.count() == got, "duplicates survived dedup"
    assert got == n_events


def test_watermark_drops_late_replay(spark):
    """The late tail replays the oldest 50 rows; none may be re-counted."""
    out = run_watermark_late_replay(spark, SF_DIR)
    emitted = {(r.window_start, r.window_end): r.n for r in out.collect()}
    batch = {
        (r.window_start, r.window_end): r.n
        for r in load_table(spark, SF_DIR, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), F.col("w.end").alias("window_end"), "n")
        .collect()
    }
    assert emitted, "nothing emitted"
    for key, n in emitted.items():
        assert n <= batch[key], f"late rows double-counted in {key}"


def test_session_stream_sessions_match_batch(spark):
    from jsmr_spark.streaming.core import run_session_stream

    streamed = {
        (r.user_id, r.session_start, r.session_end): r.n_events
        for r in run_session_stream(spark, SF_DIR).collect()
    }
    batch = {
        (r.user_id, r.session_start, r.session_end): r.n_events
        for r in get_query("q_stream_session").fn(spark, SF_DIR).collect()
    }
    assert streamed, "no sessions emitted"
    for key, n in streamed.items():
        assert batch.get(key) == n, f"session {key}: stream={n} batch={batch.get(key)}"


def test_stateful_counter_final_state_equals_batch(spark):
    from jsmr_spark.streaming.core import run_stateful_counter_stream

    out = run_stateful_counter_stream(spark, SF_DIR)
    # update mode emits one row per user per batch; the max is the final state
    final = {
        r.user_id: (r.n_events, r.spend)
        for r in out.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"), F.max("spend").alias("spend"))
        .collect()
    }
    ev = load_table(spark, SF_DIR, "events")
    batch = {
        r.user_id: (r.n, round(r.c / 100.0, 2))
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("c"),
        )
        .collect()
    }
    assert final.keys() == batch.keys()
    for uid, (n, spend) in final.items():
        assert (n, round(spend, 2)) == batch[uid], f"user {uid}"


def test_stateful_counter_recovers_from_checkpoint(spark):
    """Kill-and-resume (VERDICT r3 #2): stop the stateful-counter stream
    mid-ingest (half the chunks delivered), restart a new query from the
    same checkpoint once the rest arrives, and prove exactly-once state:
    the converged totals equal the batch aggregate — no dupes (restart
    re-emitting committed batches would overshoot), no loss (dropped
    state would undershoot)."""
    from jsmr_spark.streaming.core import run_stateful_counter_restart

    p1, p2, n_prefix, n_total = run_stateful_counter_restart(spark, SF_DIR)

    def final_state(df):
        return {
            r.user_id: (r.n_events, round(r.spend, 2))
            for r in df.groupBy("user_id")
            .agg(F.max("n_events").alias("n_events"), F.max("spend").alias("spend"))
            .collect()
        }

    s1, s2 = final_state(p1), final_state(p2)
    assert s1 and s2, "one of the incarnations emitted nothing"
    # phase 1 genuinely stopped mid-stream: it accounts for exactly the
    # delivered prefix, which is a strict subset of the table
    assert 0 < n_prefix < n_total
    assert sum(n for n, _ in s1.values()) == n_prefix

    # converged state: phase-2 rows supersede phase-1 rows for the users
    # they touch (counters are monotone), phase-1 rows stand otherwise
    merged = {**s1, **s2}
    ev = load_table(spark, SF_DIR, "events")
    batch = {
        r.user_id: (r.n, round(r.c / 100.0, 2))
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("c"),
        )
        .collect()
    }
    assert merged.keys() == batch.keys()
    for uid, got in merged.items():
        assert got == batch[uid], f"user {uid}: stream={got} batch={batch[uid]}"
    # global double-check: merged totals account for every row exactly once
    assert sum(n for n, _ in merged.values()) == n_total


def test_sliding_stream_matches_batch_prefix(spark):
    """Sliding windows fan each event into two window states; every
    watermark-closed window the stream emitted must carry exactly the
    batch counts (the batch twin q_stream_sliding is oracle-checked)."""
    from jsmr_spark.streaming.core import run_sliding_stream

    streamed = {
        (r.window_start, r.window_end, r.event_type): r.n
        for r in run_sliding_stream(spark, SF_DIR).collect()
    }
    batch = {
        (r.window_start, r.window_end, r.event_type): r.n
        for r in get_query("q_stream_sliding").fn(spark, SF_DIR).collect()
    }
    assert streamed, "stream emitted nothing"
    for key, n in streamed.items():
        assert batch.get(key) == n, f"window {key}: stream={n} batch={batch.get(key)}"
    assert len(streamed) >= 0.8 * len(batch)


def test_rate_source_stream_is_deterministic(spark, replay_root):
    """The unbounded rate source's aggregate must equal the pure
    function of the counter prefix (the same thing its DuckDB oracle
    checks, exercised here through the streaming engine), and the
    replay must be cleaned up after each run: the stop cancels a
    micro-batch whose state-store tasks would otherwise re-create the
    root after it was deleted. Three runs, since that race does not
    show on every stop."""
    from jsmr_spark.streaming.core import run_rate_source_stream

    confs = _replay_confs(spark)
    for _ in range(3):
        rows = {r.user_key: (r.n, r.sum_value) for r in run_rate_source_stream(spark).collect()}
        assert len(rows) == 50
        for k, (n, sv) in rows.items():
            assert n == 100
            assert sv == sum(range(k, 5000, 50))
        _assert_replay_cleaned_up(spark, confs)


def test_tumbling_stream_on_rocksdb_state_store(spark):
    """Production-parity: the same tumbling replay under the RocksDB
    state store provider (the backend a 100 TB deployment runs, with
    state spilled off-heap and changelog checkpointing available) must
    emit exactly the same windows as the default HDFS-backed store."""
    provider = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    with conf_override(spark, {"spark.sql.streaming.stateStore.providerClass": provider}):
        streamed = {
            (r.window_start, r.window_end, r.event_type): r.n
            for r in run_tumbling_stream(spark, SF_DIR).collect()
        }
    batch = {
        (r.window_start, r.window_end, r.event_type): r.n
        for r in get_query("q_stream_tumbling").fn(spark, SF_DIR).collect()
    }
    assert streamed, "stream emitted nothing under RocksDB"
    for k, n in streamed.items():
        assert batch.get(k) == n, f"window {k}: rocksdb={n} batch={batch.get(k)}"


def test_exactly_once_sink_survives_injected_failure(spark, replay_root):
    """The idempotent foreachBatch sink must (1) actually hit the
    injected post-publish/pre-commit failure, (2) skip the redelivered
    batch on restart, and (3) deliver every input row exactly once —
    totals equal to the batch aggregate, in count AND exact cents. The
    failed first incarnation goes through the replay's error path, which
    must still clean up."""
    from jsmr_spark.compat import cents
    from jsmr_spark.io import load_table
    from jsmr_spark.streaming.core import run_exactly_once_sink_stream
    from tests.conftest import SF_DIR

    confs = _replay_confs(spark)
    df, evidence = run_exactly_once_sink_stream(spark, SF_DIR)
    _assert_replay_cleaned_up(spark, confs)
    assert evidence["failed_injected"]
    assert evidence["skipped_batches"] == [2], evidence
    assert sorted(evidence["written_batches"]) == list(range(6)), evidence

    got = {r["user_id"]: (r["n_events"], r["spend"]) for r in df.collect()}
    expected = {
        r["user_id"]: (r["n"], r["spend"])
        for r in (
            load_table(spark, SF_DIR, "events")
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                (F.sum(cents(F.col("value"))) / 100.0).alias("spend"),
            )
            .collect()
        )
    }
    assert got == expected


def test_transform_with_state_gated_or_working(spark):
    """transformWithStateInPandas (Spark 4 StatefulProcessor) needs a
    protobuf wheel for its state-server protocol; this sandbox has
    none. The runner must either work (protobuf present) and agree
    with the batch aggregate, or fail fast with the documented
    NotImplementedError — never crash mid-stream."""
    from jsmr_spark.compat import cents
    from jsmr_spark.streaming.core import run_transform_with_state_stream

    try:
        raw = run_transform_with_state_stream(spark, SF_DIR)
    except NotImplementedError as e:
        assert "protobuf" in str(e)
        return
    w = __import__("pyspark.sql", fromlist=["Window"]).Window
    final = (
        raw.withColumn(
            "rn",
            F.row_number().over(
                w.partitionBy("user_id").orderBy(F.desc("n_events"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "vc")
    )
    got = {r.user_id: (r.n_events, r.vc) for r in final.collect()}
    exp = {
        r.user_id: (r.n, r.vc)
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents(F.col("value"))).alias("vc"),
        )
        .collect()
    }
    assert got == exp


def test_window_topk_stream_matches_batch_prefix(spark):
    """Streaming top-N: every watermark-closed window the replay ranked
    must carry exactly the batch top-3 (same users, same ranks, same
    exact-cents spend); the stream may only be missing tail windows
    still open at shutdown. The batch twin q_stream_topk is
    oracle-checked, so this transitively pins the replay to DuckDB."""
    from jsmr_spark.streaming.core import run_window_topk_stream

    streamed = {}
    for r in run_window_topk_stream(spark, SF_DIR).collect():
        streamed.setdefault(r.window_start, []).append(
            (r.rnk, r.user_id, r.n, r.spend)
        )
    batch = {}
    for r in get_query("q_stream_topk").fn(spark, SF_DIR).collect():
        batch.setdefault(r.window_start, []).append(
            (r.rnk, r.user_id, r.n, r.spend)
        )
    assert streamed, "stream emitted nothing"
    for win, rows in streamed.items():
        assert sorted(rows) == sorted(batch.get(win, [])), f"window {win}"
    assert len(streamed) >= 0.8 * len(batch)


def test_stream_stream_join_equals_batch_join(spark):
    """The closed two-stream replay must emit exactly the batch range
    join's pairs — inner stream-stream emission is match-driven, so
    nothing may be missing, duplicated, or extra."""
    from jsmr_spark.streaming.core import run_stream_stream_join

    streamed = sorted(
        (r.view_id, r.click_id, r.user_id, r.gap_us)
        for r in run_stream_stream_join(spark, SF_DIR).collect()
    )
    batch = sorted(
        (r.view_id, r.click_id, r.user_id, r.gap_us)
        for r in get_query("q_join_range").fn(spark, SF_DIR).collect()
    )
    assert streamed == batch
    assert streamed, "no pairs at this SF"


def test_stream_stream_outer_join_null_semantics(spark):
    """Left-outer two-stream replay: matched pairs equal the batch
    inner join exactly; every null-extended view is a true member of
    the batch anti set (no click within 5 minutes); and nulls cover
    the anti set except views too close to the stream end for the
    final watermark to have proven them clickless."""
    from datetime import timedelta

    from jsmr_spark.streaming.core import run_stream_stream_join_outer

    rows = run_stream_stream_join_outer(spark, SF_DIR).collect()
    matched = {(r.view_id, r.click_id) for r in rows if r.click_id is not None}
    nulls = {r.view_id for r in rows if r.click_id is None}
    batch_pairs = {
        (r.view_id, r.click_id)
        for r in get_query("q_join_range").fn(spark, SF_DIR).collect()
    }
    assert matched == batch_pairs
    ev = load_table(spark, SF_DIR, "events").collect()
    views = {r.event_id: (r.user_id, r.ts) for r in ev if r.event_type == "view"}
    anti = set(views) - {v for v, _ in batch_pairs}
    assert nulls <= anti, "a null-extended view actually has a click"
    # The watermark that governs null emission in the FINAL data batch
    # is the one updated after the penultimate batch — and with TWO
    # watermarked streams the engine takes the MINIMUM of the per-side
    # watermarks (multipleWatermarkPolicy=min), each fed only its own
    # event type. So the basis is min(max view-ts, max click-ts) over
    # the first n_chunks-1 staged chunks, minus the 10-minute delay.
    # (availableNow terminates after the last data batch, so the
    # end-of-stream watermark never gets a flushing batch — state
    # above this boundary is the expected buffered tail.)
    n_chunks = 6  # matches run_stream_stream_join_outer's staging
    ordered = sorted((r.ts, r.event_id, r.event_type) for r in ev)
    last_chunk_rows = len(ordered) // n_chunks  # ntile: last tile is the small one
    head_rows = ordered[: len(ordered) - last_chunk_rows]
    wm_basis = min(
        max(ts for ts, _, typ in head_rows if typ == "view"),
        max(ts for ts, _, typ in head_rows if typ == "click"),
    )
    provable = {
        v
        for v in anti
        if views[v][1] + timedelta(minutes=5)
        < wm_basis - timedelta(minutes=10)
    }
    missing = provable - nulls
    assert not missing, f"{len(missing)} provably clickless views never emitted"
    assert nulls, "no null-extended rows emitted at all"


def test_replay_tmp_root_override(monkeypatch):
    """r13: the replay scratch/checkpoint root honors
    SPARK_GRAFT_STREAM_TMP and otherwise prefers the RAM-backed tmpdir
    when one exists (falling back to the standard tempdir)."""
    import os
    import tempfile

    from jsmr_spark.streaming.core import _replay_tmp_root

    monkeypatch.setenv("SPARK_GRAFT_STREAM_TMP", "/tmp/jsmr_custom_root")
    assert _replay_tmp_root() == "/tmp/jsmr_custom_root"
    monkeypatch.delenv("SPARK_GRAFT_STREAM_TMP")
    expected = (
        "/dev/shm"
        if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK)
        else tempfile.gettempdir()
    )
    assert _replay_tmp_root() == expected


def test_replay_tmp_root_falls_back_when_shm_is_full(monkeypatch):
    """A RAM-backed root without room for a replay's staged chunks and
    checkpoints is passed over for the standard tempdir; the
    SPARK_GRAFT_STREAM_TMP override still wins regardless."""
    import os
    import tempfile
    import types

    import pytest

    from jsmr_spark.streaming import core

    if not (os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK)):
        pytest.skip("no writable /dev/shm")
    free = {"bytes": 0}
    asked = []

    def disk_usage(path):
        asked.append(path)
        return types.SimpleNamespace(total=free["bytes"], used=0, free=free["bytes"])

    monkeypatch.setattr(core.shutil, "disk_usage", disk_usage)
    monkeypatch.delenv("SPARK_GRAFT_STREAM_TMP", raising=False)
    free["bytes"] = core._CKPT_BYTES - 1
    assert core._replay_tmp_root() == tempfile.gettempdir()
    assert asked == ["/dev/shm"]
    free["bytes"] = core._CKPT_BYTES
    assert core._replay_tmp_root() == "/dev/shm"
    assert core._replay_tmp_root(core._CKPT_BYTES + 1) == tempfile.gettempdir()

    monkeypatch.setenv("SPARK_GRAFT_STREAM_TMP", "/tmp/jsmr_custom_root")
    free["bytes"] = 0
    asked.clear()
    assert core._replay_tmp_root() == "/tmp/jsmr_custom_root"
    assert asked == []


def test_replay_cleans_up_after_error_in_block(spark, replay_root):
    """An exception inside a bare ``with _replay(...)`` block, after a
    query ran and its memory sink registered a view, still stops every
    query, drops the view, restores the three confs (here set to
    caller values first) and deletes the scratch root."""
    caller = {
        "spark.sql.shuffle.partitions": "7",
        "spark.sql.streaming.checkpointLocation": os.path.join(replay_root, "elsewhere"),
        "spark.sql.streaming.checkpointFileManagerClass": (
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileContextBasedCheckpointFileManager"
        ),
    }
    with conf_override(spark, caller):
        confs = _replay_confs(spark)
        views = spark.catalog.listTables()
        with pytest.raises(RuntimeError, match="inside the replay"):
            with _replay(spark, SF_DIR, n_chunks=2) as rp:
                assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
                assert rp.run(rp.source()).count() == rp.n_rows
                raise RuntimeError("inside the replay")
        _assert_replay_cleaned_up(spark, confs)
        assert spark.catalog.listTables() == views


def test_memory_sink_runner_leaves_no_temp_view(spark):
    """A memory sink registers a temp view holding its rows in the
    driver; the replay drops it, so repeated runs do not pile views up,
    and the returned DataFrame stays valid without it."""

    def temp_tables() -> int:
        return sum(t.isTemporary for t in spark.catalog.listTables())

    n_before = temp_tables()
    first = run_tumbling_stream(spark, SF_DIR)
    second = run_tumbling_stream(spark, SF_DIR)
    assert temp_tables() == n_before
    assert sorted(first.collect()) == sorted(second.collect())


def test_replay_checkpoints_through_filesystem_manager(spark, replay_root):
    """A query started inside a replay writes its offset and commit logs
    through FileSystemBasedCheckpointFileManager, which renames with
    File.renameTo; Spark's default FileContext-based manager starts four
    readlink processes per rename on a local filesystem without the
    native libhadoop."""
    confs = _replay_confs(spark)
    with _replay(spark, SF_DIR, n_chunks=2) as rp:
        q = rp.source().writeStream.format("noop").trigger(availableNow=True).start()
        try:
            q.awaitTermination()
            jq = q._jsq.streamingQuery()
            managers = {
                log.fileManager().getClass().getSimpleName()
                for log in (jq.offsetLog(), jq.commitLog())
            }
        finally:
            q.stop()
    _assert_replay_cleaned_up(spark, confs)
    assert managers == {"FileSystemBasedCheckpointFileManager"}


@pytest.mark.parametrize(
    "n_chunks, late_tail, redeliver",
    [(2, False, False), (6, False, False), (8, False, False), (5, True, False), (4, False, True)],
)
def test_staged_chunks_match_ntile_assignment(spark, replay_root, n_chunks, late_tail, redeliver):
    """The staged chunks are the rows a single-partition
    row_number/ntile window over (ts, event_id) assigns to each tile, in
    rn order within each file; the late tail is the 50 smallest rn; a
    redelivered copy sits between its original and the next chunk in
    mtime (arrival) order; and the staged schema is the one Spark infers
    from a chunk file. Spark reports the same nullability for both
    schemas, so they are compared whole."""
    n_main = n_chunks - 1 if late_tail else n_chunks
    w = Window.orderBy("ts", "event_id")
    ref = sorted(
        load_table(spark, SF_DIR, "events")
        .select(
            "event_id",
            F.row_number().over(w).alias("rn"),
            (F.ntile(n_main).over(w) - 1).alias("chunk"),
        )
        .collect(),
        key=lambda r: r.rn,
    )
    expected = [[r.event_id for r in ref if r.chunk == i] for i in range(n_main)]
    if late_tail:
        expected.append([r.event_id for r in ref if r.rn <= 50])

    with _replay(spark, SF_DIR, n_chunks=n_chunks, late_tail=late_tail, redeliver=redeliver) as rp:
        assert rp.n_rows == len(ref)
        assert rp.schema == spark.read.parquet(os.path.join(rp.src, "chunk_000")).schema
        arrival = sorted(
            os.listdir(rp.src), key=lambda n: os.path.getmtime(os.path.join(rp.src, n))
        )
        names = [f"chunk_{i:03d}" for i in range(n_chunks)]
        if redeliver:
            names = [n for name in names for n in (name, name + "_redeliver")]
        assert arrival == names
        staged = {
            n: pq.read_table(os.path.join(rp.src, n))["event_id"].to_pylist() for n in arrival
        }
    for i, ids in enumerate(expected):
        assert staged[f"chunk_{i:03d}"] == ids, f"chunk {i}"
        if redeliver:
            assert staged[f"chunk_{i:03d}_redeliver"] == ids, f"chunk {i} redelivery"


def _jobs(spark) -> list[tuple[int, str]]:
    """(job id, name) of every job the status store holds."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    return [(jobs.apply(i).jobId(), jobs.apply(i).name()) for i in range(jobs.size())]


def test_cdc_apply_reads_versions_with_the_written_schema(spark, replay_root):
    """stream_cdc_apply re-reads every table version it publishes (the
    per-batch merge input and the final table) with the schema it wrote
    that version with, so no parquet schema-inference job runs. The
    events table is loaded first: its own first load infers once."""
    load_table(spark, SF_DIR, "events")
    since = max((i for i, _ in _jobs(spark)), default=-1)
    rows = get_query("stream_cdc_apply").fn(spark, SF_DIR).collect()
    names = [name for i, name in _jobs(spark) if i > since]
    assert rows
    assert names, "no job recorded"
    assert [n for n in names if n.startswith("parquet at")] == [], names
