"""Structured Streaming execution of the stream operators.

The batch keys in queries/streaming_batch.py define the semantics and
are oracle-checked; this module runs the SAME transformations under
MicroBatchExecution, so that watermarks, state stores, and late-data
policy are exercised for real.

Every runner goes through one replay lifecycle, ``_replay``:

  * one scratch root (``_replay_tmp_root``) holds everything the
    replay writes: staged input, checkpoints, sink output;
  * events are staged there as K ordered parquet chunk files, a
    deterministic replay of the stream (optionally with a late tail of
    the oldest rows, or with every chunk delivered twice);
  * three confs are set for the replay: ``spark.sql.shuffle.partitions``
    is clamped to the staged input,
    ``spark.sql.streaming.checkpointLocation`` points into the root, and
    ``spark.sql.streaming.checkpointFileManagerClass`` selects the
    FileSystem-based checkpoint manager, which renames without starting
    a process;
  * ``source()`` streams the chunks one file per trigger, and ``run()``
    starts a query into a memory, foreachBatch or custom-format sink,
    drains it and stops it;
  * on exit, on success and on error alike, the memory sinks' temp
    views are dropped, the three confs restored and the root deleted.

A runner is only its transform, its sink and its result shape.
Stateful aggregations run with withWatermark(); in append mode a window
only emits once the watermark passes its end. run_watermark_late_replay()
appends a final chunk of deliberately old rows — the state store drops
them, which is the watermark late-data contract (not expressible in
batch; rows-only key). Per-batch progress (durations, state rows) is
not collected here: any StreamingQueryListener on the session sees
every replay's queries (perfbench/tracing.py registers one).

At production scale the file source becomes Kafka and the memory sink
becomes a parquet/Delta sink — the query graph is unchanged. State
size is bounded by (watermark horizon x active keys), not stream
length.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
import time
import uuid

from pyspark.errors import StreamingQueryException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jsmr_spark.compat import cents
from jsmr_spark.io import load_table, table_path
from jsmr_spark.queries.common import collected
from jsmr_spark.session import conf_override

# Scratch space one replay's checkpoints may take: offsets, commits and
# state-store delta files, a few KB each but one per partition per store
# per micro-batch, and tmpfs allocates whole pages. A whole replay,
# staged chunks included, peaked at 2.5 MB of allocated blocks on sf0.01
# and 7.1 MB on sf0.1 (the outer interval join, the largest).
_CKPT_BYTES = 32 << 20

_PARTITIONS = "spark.sql.shuffle.partitions"
_CHECKPOINTS = "spark.sql.streaming.checkpointLocation"
_CKPT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
_FS_CKPT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _replay_tmp_root(need_bytes: int = _CKPT_BYTES) -> str:
    """Root for replay staging files and ephemeral checkpoints.

    Everything the replay harness writes is throwaway by construction
    (``_replay`` deletes its root on exit), so it defaults to the
    RAM-backed tmpdir when one exists, which keeps a simulation's scratch
    off the disk. Placement is not what a checkpoint commit costs,
    though: moving the root to /dev/shm left the ~40-60 ms per metadata
    commit unchanged. That cost was process starts (see ``_replay``),
    not an fsync chain, and a ``get_spark`` session now starts none. A
    real deployment checkpoints to durable storage ON PURPOSE; this is
    placement of a simulation's scratch space, not an engine setting,
    and $SPARK_GRAFT_STREAM_TMP overrides it. A RAM-backed root with
    less than ``need_bytes`` free is passed over for the standard
    tempdir, so a full /dev/shm costs speed instead of an ENOSPC
    mid-replay."""
    env = os.environ.get("SPARK_GRAFT_STREAM_TMP")
    if env:
        return env
    shm = "/dev/shm"
    if (
        os.path.isdir(shm)
        and os.access(shm, os.W_OK)
        and shutil.disk_usage(shm).free >= need_bytes
    ):
        return shm
    return tempfile.gettempdir()


class _Replay:
    """What a runner holds inside ``with _replay(...) as rp``: the
    scratch ``root``, the staged chunks (``src``, their ``schema`` and
    ``n_rows``), a file source over them and a query runner."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.src = os.path.join(root, "src")
        self.schema = None
        self.n_rows: int | None = None
        self.views: list[str] = []

    def source(self) -> DataFrame:
        """The staged chunks as a file stream, one chunk per micro-batch
        in arrival (mtime) order."""
        return (
            self.spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(os.path.join(self.src, "chunk_*"))
        )

    def run(
        self,
        df: DataFrame,
        mode: str = "append",
        sink=None,
        until_rows: int | None = None,
        **options,
    ) -> DataFrame | None:
        """Start ``df`` into a sink, drain it and stop it.

        ``sink`` is None for a memory sink, whose rows come back as a
        DataFrame that stays valid after the replay drops the sink's
        temp view; a function for foreachBatch; or a format name, with
        ``options``. A foreachBatch or format sink checkpoints at the
        replay's one ``ckpt`` directory, so starting it again resumes
        where the previous incarnation stopped (the restart and
        exactly-once runners rely on this). A memory sink cannot resume;
        it checkpoints under the replay's conf root.

        A bounded source runs with availableNow and is awaited to its
        own termination, which re-raises a sink failure. An unbounded
        source passes ``until_rows`` and runs on the default trigger
        until its driver-local recentProgress counts that many input
        rows; only then does a Spark job confirm that the memory sink's
        ``n`` column sums to it. recentProgress entries are appended
        after a batch's sink write commits, and both unbounded sources
        emit a sequential counter, so the gate costs no Spark job per
        poll (r13: a confirming collect every 0.2 s competed with the
        micro-batches it waited on). The stop cancels a micro-batch that
        may still be running, so an unbounded run returns only once the
        stopped query's tasks have finished (`_await_tasks_done`)."""
        w = df.writeStream.outputMode(mode)
        if sink is None:
            name = f"replay_{uuid.uuid4().hex[:8]}"
            self.views.append(name)
            w = w.format("memory").queryName(name)
        else:
            w = w.foreachBatch(sink) if callable(sink) else w.format(sink).options(**options)
            w = w.option("checkpointLocation", os.path.join(self.root, "ckpt"))
        if until_rows is None:
            w = w.trigger(availableNow=True)
        q = w.start()
        try:
            if until_rows is None:
                q.awaitTermination()
            deadline = time.time() + 120
            while until_rows is not None and (
                sum(p.numInputRows for p in q.recentProgress) < until_rows
                or self.spark.table(name).agg(F.sum("n")).collect()[0][0] != until_rows
            ):
                if time.time() > deadline:
                    raise TimeoutError(f"stream did not reach {until_rows} rows in 120 s")
                time.sleep(0.05)
        finally:
            q.stop()
        if until_rows is not None:
            self._await_tasks_done(str(q.runId))
        return None if sink else self.spark.table(name)

    def _await_tasks_done(self, run_id: str) -> None:
        """Wait until no task of the stopped query ``run_id`` runs.

        ``stop()`` cancels the in-flight micro-batch and returns while
        its killed tasks still unwind; a state-store task among them
        re-creates ``<root>/queries/...`` after the replay deletes the
        root. Every micro-batch job runs in the job group named by the
        query's runId, and a cancelled job is FAILED while its stages
        still count active tasks, so both are checked."""
        st = self.spark.sparkContext.statusTracker()

        def running(job_id: int) -> bool:
            job = st.getJobInfo(job_id)
            if job is None:
                return False
            stages = (st.getStageInfo(s) for s in job.stageIds)
            return job.status == "RUNNING" or any(s and s.numActiveTasks for s in stages)

        deadline = time.time() + 30
        while any(running(j) for j in st.getJobIdsForGroup(run_id)):
            if time.time() > deadline:
                raise TimeoutError(f"tasks of stopped query {run_id} still running after 30 s")
            time.sleep(0.02)


@contextlib.contextmanager
def _replay(
    spark: SparkSession,
    sf_dir: str | None = None,
    n_chunks: int = 0,
    late_tail: bool = False,
    redeliver: bool = False,
):
    """The replay lifecycle every runner shares (see the module docstring).

    With ``sf_dir``, events are staged as ``n_chunks`` parquet chunks
    simulating arrival order: chunks 0..n-2 cover the stream in
    ascending ts order; with ``late_tail`` the final chunk replays the
    OLDEST rows again (severely late data), otherwise it is just the
    last time-slice; with ``redeliver`` every chunk is delivered twice
    (at-least-once), the copy adjacent to its original. Without
    ``sf_dir`` (the unbounded sources) nothing is staged.

    ``spark.sql.shuffle.partitions`` is clamped for the replay: AQE
    never applies to streaming queries, so every stateful operator
    materializes exactly `shuffle.partitions` state-store instances PER
    MICRO-BATCH. At replay scale (a handful of chunks, thousands of
    rows) the session's batch-sized setting is pure overhead; a real
    deployment sizes this once per stream at first start (the state
    partition count is then pinned by the checkpoint). INPUT-AWARE since
    round 6 (VERDICT r5 #7): a fixed clamp of 8 also capped the number
    of parallel Python workers for the stateful pandas lane, so the 10x
    probe saw wall ~ rows/8 instead of rows/cores. Partitions scale
    ~rows/20k (bounded 4..32; r12 lowered the floor 8 -> 4: every
    stateful operator commits one state-store delta file PER PARTITION
    PER MICRO-BATCH, so the floor is pure per-batch commit overhead at
    fixture scale, while the probe scales — 1M rows still sizes to 32).

    ``spark.sql.streaming.checkpointLocation`` points into the root
    (r13): a memory-sink query otherwise checkpoints to a temp dir under
    java.io.tmpdir, outside what the replay deletes.

    ``spark.sql.streaming.checkpointFileManagerClass`` selects
    ``FileSystemBasedCheckpointFileManager`` for the replay. Without the
    native libhadoop, Hadoop's local filesystem starts a process for
    some metadata calls: one ``chmod`` per file created or directory
    made, and four ``readlink`` per rename through ``FileContext``,
    which is how Spark's default manager renames every offset, commit,
    source-log and state-store delta file (one per partition per store
    per micro-batch). Each start costs about 5-9 ms inside the driver
    JVM, and that, not an fsync chain, is what made a metadata commit
    cost ~40-60 ms on tmpfs and on disk alike. JFR counted 258 process
    starts in the driver JVM over one warm ``stream_exactly_once_sink``
    run at sf0.01, 152 of them ``readlink``; with this manager and the
    staging below, 97, all ``chmod``; with ``get_spark``'s local
    filesystem, which sets permissions with one ``chmod(2)`` call
    (``session.LOCAL_FS_CLASS``), 0. It renames with
    ``FileSystem.rename`` (``File.renameTo``), which starts no process.
    That rename is not atomic on every filesystem (object stores), which
    is why Spark defaults to ``FileContext``; the replay root is always
    local, where a POSIX rename is. The manager also keeps the session's
    ``file:`` filesystem: ``FileContext`` builds its own stock one,
    which would bring back the ``readlink`` and ``chmod`` starts. The
    checksummed local filesystem stays, ``.crc`` files included. The
    conf is scoped to the replay like the other two."""
    need = _CKPT_BYTES
    if sf_dir is not None:
        # The staged chunks are one copy of the events columns, two with
        # redelivery; 4x the events file leaves room for their encoding.
        need += 4 * os.path.getsize(table_path(sf_dir, "events"))
    root = os.path.join(_replay_tmp_root(need), f"jsmr_stream_{uuid.uuid4().hex[:8]}")
    rp = _Replay(spark, root)
    try:
        if sf_dir is not None:
            import pyarrow.parquet as pq

            os.makedirs(rp.src)
            n_main = n_chunks - 1 if late_tail else n_chunks
            # ONE Spark job, the collect: the replay is a bounded local
            # harness by construction, so the driver holds the table.
            # Arrival order is (ts, event_id) ascending, nulls first as
            # Spark sorts, and the chunk boundaries are those of Spark's
            # ntile(n_main) over that order: the first n_rows % n_main
            # tiles hold one extra row. Arrival order is pinned with
            # EXPLICIT strictly-increasing mtimes (the file source orders
            # by modification time).
            cols = ["event_id", "ts", "user_id", "event_type", "value"]
            ev = load_table(spark, sf_dir, "events").select(*cols)
            tbl = ev.toArrow().sort_by(
                [("ts", "ascending"), ("event_id", "ascending")], null_placement="at_start"
            )
            rp.n_rows = tbl.num_rows
            size, extra = divmod(rp.n_rows, n_main)
            bounds = [i * size + min(i, extra) for i in range(n_main + 1)]
            chunks = [tbl.slice(a, b - a) for a, b in zip(bounds, bounds[1:])]
            if late_tail:
                # Replay the oldest 50 rows after the watermark has
                # advanced far beyond them -> guaranteed drop.
                chunks.append(tbl.slice(0, 50))
            t0 = time.time() - 2 * (n_chunks + 2)
            for i, chunk in enumerate(chunks):
                p = os.path.join(rp.src, f"chunk_{i:03d}")
                pq.write_table(chunk, p)
                os.utime(p, (t0 + 2 * i, t0 + 2 * i))
                if redeliver:
                    # The copy's mtime (+1 s, between chunk i at +0 and
                    # chunk i+1 at +2 s) pins it ADJACENT to its original
                    # in the file source's arrival order.
                    shutil.copy2(p, p + "_redeliver")
                    os.utime(p + "_redeliver", (t0 + 2 * i + 1, t0 + 2 * i + 1))
            rp.schema = ev.schema
        n_parts = 4 if rp.n_rows is None else min(32, max(4, rp.n_rows // 20_000))
        confs = {
            _PARTITIONS: str(n_parts),
            _CHECKPOINTS: os.path.join(rp.root, "queries"),
            _CKPT_MANAGER: _FS_CKPT_MANAGER,
        }
        with conf_override(spark, confs):
            yield rp
    finally:
        for name in rp.views:
            spark.catalog.dropTempView(name)
        shutil.rmtree(rp.root, ignore_errors=True)


def run_tumbling_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_stream_tumbling (append mode, watermark-gated
    emission). With a closed input, emitted windows = batch windows for
    every window whose end precedes the final watermark."""
    with _replay(spark, sf_dir, n_chunks=8) as rp:
        return rp.run(
            rp.source()
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "event_type",
                "n",
            )
        )


def run_sliding_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_stream_sliding: 1-hour windows sliding every
    30 minutes under a watermark — each event enters TWO window states,
    so this exercises multi-window state fan-out (state rows = 2x keys,
    still watermark-bounded) that the tumbling replay does not."""
    with _replay(spark, sf_dir, n_chunks=8) as rp:
        return rp.run(
            rp.source()
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "event_type",
                "n",
            )
        )


def run_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_stream_dedup: withWatermark + dropDuplicates
    over a replay where every chunk is delivered twice (at-least-once)."""
    with _replay(spark, sf_dir, n_chunks=4, redeliver=True) as rp:
        return rp.run(
            rp.source()
            .withWatermark("ts", "1 hour")
            .dropDuplicates(["event_id"])
            .select("event_id", "user_id", "event_type", "ts")
        )


def run_dedup_within_wm_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup via dropDuplicatesWithinWatermark (Spark 3.5+):
    the state-BOUNDED exactly-once API. Plain dropDuplicates keeps a
    state row per key FOREVER unless the event-time column is part of
    the dedup key; WithinWatermark guarantees dedup only for duplicates
    arriving inside the watermark delay and EVICTS state the moment the
    watermark passes ts + delay — the only sustainable shape for an
    unbounded 100 TB stream keyed on event_id.

    Replay: every chunk is delivered twice (at-least-once redelivery,
    adjacent in arrival order). Each redelivered row is then either
    still inside the watermark window (deduped by live state) or
    older than the watermark (dropped as late) — so the closed-input
    output is EXACTLY the distinct original rows, fully hash-checkable,
    while state stays bounded by the delay instead of the key space."""
    with _replay(spark, sf_dir, n_chunks=4, redeliver=True) as rp:
        return rp.run(
            rp.source()
            .withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["event_id"])
            .select("event_id", "user_id", "event_type", "ts")
        )


def run_watermark_late_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data policy demonstration (rows-only key): tumbling counts
    with a 10-minute watermark over a replay whose final chunk re-sends
    the oldest rows. Those rows are beyond the watermark when they
    arrive and are dropped; the emitted counts therefore equal the
    batch counts of the on-time prefix.

    5 chunks (4 on-time + 1 late replay) keep the demonstration exact —
    the watermark has advanced past the whole stream before the late
    chunk arrives regardless of how finely the prefix is sliced — while
    keeping the per-micro-batch planning/state cost off the driver's
    correctness-sweep budget."""
    with _replay(spark, sf_dir, n_chunks=5, late_tail=True) as rp:
        return rp.run(
            rp.source()
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "n",
            )
        )


def run_session_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_stream_session: session_window + watermark in
    append mode — sessions emit once the watermark passes their close."""
    with _replay(spark, sf_dir, n_chunks=8) as rp:
        return rp.run(
            rp.source()
            .withWatermark("ts", "30 minutes")
            .groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "n_events",
            )
        )


def _stateful_counter_transform(stream: DataFrame) -> DataFrame:
    """applyInPandasWithState transform shared by the single-run replay
    and the checkpoint-restart replay: cumulative per-user event count +
    exact cents spend, state-store-backed, emitted in update mode."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update_totals(key, pdfs, state: GroupState):
        (user_id,) = key
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int((pdf["value"] * 100).round().sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "spend": [cents / 100.0]}
        )

    return (
        stream.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update_totals,
            outputStructType="user_id long, n_events long, spend double",
            stateStructType="n long, cents long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_stateful_counter_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: cumulative
    per-user event count + exact cents spend, updated every micro-batch.

    This is the escape hatch for stateful logic that session/tumbling
    windows cannot express (JsMr parity: arbitrary user reduce state,
    SURVEY.md §2.A A11) — user state lives in the state store, bounded
    by active keys, emitted in update mode each batch."""
    with _replay(spark, sf_dir, n_chunks=6) as rp:
        return rp.run(_stateful_counter_transform(rp.source()), mode="update")


def run_stateful_counter_restart(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, int, int]:
    """Checkpoint-recovery proof for the stateful counter (VERDICT r3 #2):
    the stream is STOPPED MID-INGEST — only half the chunks have arrived —
    then a brand-new query object restarts from the same checkpoint dir
    once the rest of the data lands, and must resume exactly where the
    first incarnation left off: no re-emission of committed batches
    (no dupes), no skipped data (no loss).

    This is the production kill/restart path: the offset log pins which
    source files each batch consumed, and the HDFS-backed state store
    snapshots the per-user (n, cents) state per batch; a restart replays
    neither. A hard kill mid-batch additionally replays the one
    uncommitted batch — exactly-once into the state store, at-least-once
    into a non-idempotent sink — which is the documented Structured
    Streaming contract; the sink here (foreachBatch accumulator) only
    observes batch boundaries, so the clean-stop variant is the
    deterministic test of the same recovery machinery.

    Returns (phase1_emissions, phase2_emissions, n_prefix_rows,
    n_total_rows): everything the invariants need — phase-1 totals must
    account for exactly the prefix rows, and max-merged totals across
    both phases must account for exactly the whole table.
    """
    with _replay(spark, sf_dir, n_chunks=6) as rp:
        # Hold back the last 3 chunks: phase 1 genuinely stops while the
        # logical stream still has data in flight.
        hold = os.path.join(rp.root, "hold")
        os.makedirs(hold)
        chunks = sorted(d for d in os.listdir(rp.src) if d.startswith("chunk_"))
        for d in chunks[3:]:
            shutil.move(os.path.join(rp.src, d), os.path.join(hold, d))
        n_prefix = spark.read.parquet(os.path.join(rp.src, "chunk_*")).count()

        def run_incarnation() -> list:
            """Start a NEW query from the shared checkpoint; collect every
            emitted row via foreachBatch (the checkpoint-compatible sink —
            a memory sink cannot recover from a checkpoint location)."""
            emitted: list = []
            rp.run(
                _stateful_counter_transform(rp.source()),
                mode="update",
                sink=lambda batch_df, _batch_id: emitted.extend(batch_df.collect()),
            )
            return emitted

        phase1 = run_incarnation()
        # the rest of the stream arrives while the query is down
        for d in chunks[3:]:
            shutil.move(os.path.join(hold, d), os.path.join(rp.src, d))
        phase2 = run_incarnation()
        n_total = spark.read.parquet(os.path.join(rp.src, "chunk_*")).count()
    out_schema = "user_id long, n_events long, spend double"
    return (
        spark.createDataFrame(phase1, out_schema),
        spark.createDataFrame(phase2, out_schema),
        n_prefix,
        n_total,
    )


def run_rate_source_stream(spark: SparkSession) -> DataFrame:
    """True UNBOUNDED source (not a file replay): rate-micro-batch
    generates a deterministic row sequence (value = 0,1,2,... with
    fixed timestamps), so this exercises the continuous-ingest wiring —
    an always-available source, complete-mode aggregation into a
    continuously-rewritten sink, and an explicit stop decision — while
    staying oracle-checkable: the transform filters to value < N before
    aggregating, so once N rows have been ingested the aggregate is a
    pure function of the counter sequence.

    At production scale this source swaps for Kafka and the stop
    condition disappears (the query runs forever); the query graph and
    state shape are identical. The memory sink's complete mode is the
    bounded-cardinality dashboard pattern (K user keys), not an
    unbounded append."""
    n_rows, n_keys = 5000, 50
    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 1000)
        .option("numPartitions", 4)
        .option("startTimestamp", 0)
        .load()
    )
    with _replay(spark) as rp:
        return rp.run(
            stream.filter(F.col("value") < n_rows)
            .groupBy((F.col("value") % n_keys).alias("user_key"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value")),
            mode="complete",
            until_rows=n_rows,
        )


def run_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joins a static
    customer-derived dimension (user_id -> market segment) inside the
    streaming query, then aggregates windowed counts per segment.

    The static side is planned as a broadcast against every micro-batch
    — the canonical dimension-enrichment shape (at production scale:
    Kafka stream x broadcast dim table; state is only the windowed agg,
    bounded by watermark x segments)."""
    dim = (
        load_table(spark, sf_dir, "customer")
        .select((F.col("c_custkey") - 1).alias("user_id"), "c_mktsegment")
    )
    with _replay(spark, sf_dir, n_chunks=6) as rp:
        return rp.run(
            rp.source()
            .withWatermark("ts", "10 minutes")
            .join(F.broadcast(dim), "user_id")
            .groupBy(F.window("ts", "6 hours").alias("w"), "c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                F.col("w.start").alias("window_start"),
                "c_mktsegment",
                "n_events",
            )
        )


def run_exactly_once_sink_stream(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, dict]:
    """Exactly-once FILE sink under a mid-stream sink failure: the
    production foreachBatch idempotence pattern, exercised with a real
    redelivery.

    Structured Streaming's contract is exactly-once into the state
    store but AT-LEAST-ONCE into an arbitrary sink: when a batch fails
    after the sink ran but before the checkpoint commit, the restart
    re-delivers that batch. A non-idempotent sink duplicates it; the
    standard fix is a batchId-keyed idempotent write — publish each
    batch to its own directory via write-to-tmp + atomic rename, and
    skip any batch directory that already exists.

    This harness PROVES the pattern: incarnation 1 processes the staged
    chunks one per micro-batch and the sink raises an injected failure
    for batch 2 AFTER its directory is published (the worst-case window:
    side effect done, offset commit lost). Incarnation 2 restarts from
    the same checkpoint; Structured Streaming re-delivers batch 2, the
    sink detects the published directory and skips the rewrite, and the
    stream runs to completion. The final sink contents must contain
    every input row exactly once — the registered key value-checks that
    against the batch aggregate (a duplicate batch 2 or a lost batch
    fails the hash).

    At production scale the tmp+rename publish becomes the object-store
    commit protocol or a transactional table format (Delta/Iceberg
    txn log keyed on (queryId, batchId) — same idempotence key); the
    query graph is unchanged.

    Returns (per_user_totals_df, evidence): evidence records the
    injected failure and the redelivery skip so tests can assert the
    failure path actually executed.
    """
    evidence = {"failed_injected": False, "skipped_batches": [], "written_batches": []}
    with _replay(spark, sf_dir, n_chunks=6) as rp:
        out_dir = os.path.join(rp.root, "sink")
        os.makedirs(out_dir)

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            final = os.path.join(out_dir, f"batch-{batch_id:05d}")
            if os.path.exists(final):
                # Redelivered batch already published: idempotent skip.
                evidence["skipped_batches"].append(batch_id)
            else:
                tmp = final + ".tmp"
                shutil.rmtree(tmp, ignore_errors=True)
                batch_df.write.mode("overwrite").parquet(tmp)
                os.rename(tmp, final)  # atomic publish on this fs
                evidence["written_batches"].append(batch_id)
            if not evidence["failed_injected"] and batch_id == 2:
                # Injected crash in the worst-case window: the side
                # effect is published, the streaming commit is not.
                evidence["failed_injected"] = True
                raise RuntimeError("injected sink failure (post-write, pre-commit)")

        out = rp.source().select("event_id", "user_id", cents(F.col("value")).alias("vc"))
        try:
            rp.run(out, sink=sink)
            raise AssertionError("injected failure did not surface")
        except StreamingQueryException as e:
            if "injected sink failure" not in str(e):
                raise
        rp.run(out, sink=sink)  # restart from the same checkpoint

        # Materialize before the scratch root is deleted. Every batch was
        # written from `out`, so its schema spares an inference job.
        df = collected(
            spark.read.schema(out.schema)
            .parquet(os.path.join(out_dir, "batch-*"))
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                (F.sum("vc") / 100.0).alias("spend"),
            ),
            "user_id long, n_events long, spend double",
        )
    return df, evidence


def run_cdc_apply_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply: maintain a keyed TABLE (latest value +
    update count per (user_id, event_type)) from a change stream, one
    merge per micro-batch — the foreachBatch + MERGE pattern every
    lakehouse ingest job runs (Delta/Iceberg MERGE INTO keyed on the
    primary key; here the table is versioned parquet with an atomic
    directory swap).

    Per batch: aggregate the incoming changes per key (latest value by
    a total (epoch_us, event_id) order, plus a count), full-outer-merge
    into the current table version (newer ord wins the value; counts
    add), write version N+1, atomically repoint. Ord comparison — not
    arrival order — decides the winner, so the merge is correct even
    if batches arrived out of order.

    Scale shape: the per-batch merge is ONE keyed shuffle of
    (batch-keys + table), and the table stays value-compacted (one row
    per key). At 100 TB the parquet-version table becomes a
    transactional format and the merge becomes its MERGE INTO; the
    query graph is identical. Returns the final table — value-checked
    by the registered key against the batch aggregate over all events."""
    ord_col = F.concat(
        F.lpad(F.unix_micros(F.col("ts")).cast("string"), 20, "0"),
        F.lit("#"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    # version 0 = empty table; schema = the schema the current version
    # was written with, so re-reads skip parquet schema inference
    state = {"version": 0, "schema": None}
    with _replay(spark, sf_dir, n_chunks=6) as rp:
        tbl_root = os.path.join(rp.root, "table")
        os.makedirs(tbl_root)

        def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
            incoming = (
                batch_df.select(
                    "user_id",
                    "event_type",
                    cents(F.col("value")).alias("vc"),
                    ord_col.alias("ord"),
                )
                .groupBy("user_id", "event_type")
                .agg(
                    F.max_by("vc", F.col("ord")).alias("vc"),
                    F.max("ord").alias("ord"),
                    F.count(F.lit(1)).alias("n_updates"),
                )
            )
            if state["version"] > 0:
                cur = spark.read.schema(state["schema"]).parquet(
                    os.path.join(tbl_root, f"v{state['version']:04d}")
                )
                i = incoming.alias("i")
                c = cur.alias("c")
                merged = (
                    i.join(
                        c,
                        (F.col("i.user_id") == F.col("c.user_id"))
                        & (F.col("i.event_type") == F.col("c.event_type")),
                        "full_outer",
                    )
                    .select(
                        F.coalesce(F.col("i.user_id"), F.col("c.user_id")).alias("user_id"),
                        F.coalesce(F.col("i.event_type"), F.col("c.event_type")).alias(
                            "event_type"
                        ),
                        # newer ord wins the value — NULL-safe via coalesce
                        # of the comparison chain
                        F.when(
                            F.col("c.ord").isNull() | (F.col("i.ord") > F.col("c.ord")),
                            F.col("i.vc"),
                        )
                        .otherwise(F.col("c.vc"))
                        .alias("vc"),
                        F.greatest(
                            F.coalesce(F.col("i.ord"), F.col("c.ord")),
                            F.coalesce(F.col("c.ord"), F.col("i.ord")),
                        ).alias("ord"),
                        (
                            F.coalesce(F.col("i.n_updates"), F.lit(0))
                            + F.coalesce(F.col("c.n_updates"), F.lit(0))
                        ).alias("n_updates"),
                    )
                )
            else:
                merged = incoming
            nxt = os.path.join(tbl_root, f"v{state['version'] + 1:04d}")
            tmp = nxt + ".tmp"
            merged.write.mode("overwrite").parquet(tmp)
            os.rename(tmp, nxt)  # atomic version publish
            state["version"] += 1
            state["schema"] = merged.schema

        rp.run(rp.source(), sink=apply_batch)
        return collected(
            spark.read.schema(state["schema"])
            .parquet(os.path.join(tbl_root, f"v{state['version']:04d}"))
            .select(
                "user_id",
                "event_type",
                (F.col("vc") / 100.0).alias("last_value"),
                "n_updates",
            ),
            "user_id long, event_type string, last_value double, n_updates long",
        )


def run_transform_with_state_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running totals on the Spark 4 transformWithState API —
    the successor to applyInPandasWithState (which powers
    stream_stateful_counter): an object-oriented StatefulProcessor with
    named, schema'd state slots managed by the state store. Same
    semantics as the counter (exact-cents totals per user), different —
    newer — engine surface; with a closed input the converged state
    must equal the batch aggregate.

    At scale this API is the basis for arbitrary per-key services
    (timers, TTL state, multiple typed slots per key) with state
    checkpointed exactly-once like any streaming aggregate."""
    try:
        # The transformWithState state-server protocol runs over
        # protobuf; this sandbox has no protobuf wheel (verified: the
        # streaming python runner crashes with ImportError at init).
        import google.protobuf  # noqa: F401
    except ImportError as e:  # pragma: no cover - environment-specific
        raise NotImplementedError(
            "transformWithStateInPandas requires protobuf (the state-"
            "server wire protocol), which is not installed in this "
            "sandbox. applyInPandasWithState — stream_stateful_counter, "
            "value-checked — is the shipped equivalent surface; swap to "
            "this runner on any cluster with protobuf present."
        ) from e

    import pandas as pd

    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class _TotalsProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", "n LONG, vc LONG")

        def handleInputRows(self, key, rows, timerValues):
            if self._state.exists():
                n, vc = self._state.get()
            else:
                n, vc = 0, 0
            for pdf in rows:
                n += len(pdf)
                vc += int(pdf["vc"].sum())
            self._state.update((n, vc))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "vc": [vc]}
            )

        def close(self) -> None:
            pass

    with _replay(spark, sf_dir, n_chunks=6) as rp:
        return rp.run(
            rp.source()
            .select("user_id", cents(F.col("value")).alias("vc"))
            .groupBy("user_id")
            .transformWithStateInPandas(
                _TotalsProcessor(),
                outputStructType="user_id long, n_events long, vc long",
                outputMode="Update",
                timeMode="None",
            ),
            mode="update",
        )


PY_STREAM_TOTAL = 5_000
PY_STREAM_BATCH = 1_000
PY_STREAM_KEYS = 20
PY_STREAM_PARTS = 4


def run_python_stream_source(spark: SparkSession) -> DataFrame:
    """UNBOUNDED ingest through a USER-DEFINED streaming connector
    (Spark 4 Python DataSourceStreamReader) — the answer to "no Kafka
    in this sandbox" that goes beyond swapping a source string: this
    implements the connector side itself. The reader owns real offset
    management (initialOffset / latestOffset advance a counter by
    {PY_STREAM_BATCH} per micro-batch), plans {PY_STREAM_PARTS}
    parallel range partitions per batch, and acknowledges commits —
    the exact surface a Kafka-like system plugs into when no JVM
    connector exists.

    The emitted rows are the deterministic sequence 0..{PY_STREAM_TOTAL}
    so the converged complete-mode aggregate is a pure function of the
    offsets: the registered key value-checks per-key count/sum against
    the oracle's closed form. A skipped batch, re-emitted batch, or
    partition-planning overlap breaks the hash."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    class _CounterSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "jsmr_pycounter"

        def schema(self) -> str:
            return "v long"

        def streamReader(self, schema) -> DataSourceStreamReader:
            return _CounterReader()

    class _CounterReader(DataSourceStreamReader):
        def initialOffset(self):
            return {"v": 0}

        def latestOffset(self):
            cur = getattr(self, "_cur", 0)
            self._cur = min(cur + PY_STREAM_BATCH, PY_STREAM_TOTAL)
            return {"v": self._cur}

        def partitions(self, start, end):
            s, e = start["v"], end["v"]
            step = max(1, (e - s) // PY_STREAM_PARTS)
            bounds = list(range(s, e, step)) + [e]
            return [
                InputPartition((a, b)) for a, b in zip(bounds, bounds[1:]) if a < b
            ]

        def read(self, partition):
            s, e = partition.value
            for v in range(s, e):
                yield (v,)

        def commit(self, end) -> None:
            pass

    spark.dataSource.register(_CounterSource)
    with _replay(spark) as rp:
        return rp.run(
            spark.readStream.format("jsmr_pycounter")
            .load()
            .groupBy((F.col("v") % PY_STREAM_KEYS).alias("user_key"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sum_v")),
            mode="complete",
            until_rows=PY_STREAM_TOTAL,
        )


def run_python_sink_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events replayed through chunked micro-batches into the custom
    Python streaming sink (jsmr_spark/pyds.py:TsvStreamSinkDataSource),
    whose per-batch manifest commit is idempotent on batchId. Reads the
    sink back through its manifests only and returns the per-type count
    and exact cents sum of what it committed."""
    import json

    from jsmr_spark.pyds import register_stream_sink

    register_stream_sink(spark)
    with _replay(spark, sf_dir, n_chunks=4) as rp:
        out = os.path.join(rp.root, "pysink")
        rp.run(
            rp.source().select("event_id", "event_type", cents(F.col("value")).alias("vc")),
            sink="jsmr_tsv_stream_sink",
            path=out,
        )
        files = []
        for mf in sorted(os.listdir(out)):
            if mf.startswith("_BATCH_"):
                with open(os.path.join(out, mf)) as fh:
                    files += [os.path.join(out, m["file"]) for m in json.load(fh)]
        return collected(
            spark.read.schema("event_id long, event_type string, vc long")
            .option("sep", "\t")
            .csv(files)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("vc").alias("sum_cents")),
            "event_type string, n bigint, sum_cents bigint",
        )


def run_ewma_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_ts_ewma: per-user truncated EWMA (alpha=1/2,
    K=20) as a custom stateful operator via applyInPandasWithState.

    State per user is the last K event values in exact integer cents —
    bounded by K, not by history — and every update replays the same
    power-of-two integer algebra as the batch key: num = sum(vc_i <<
    (K-1-lag)), den = 2^K - 2^(K-n), one final float division, the
    identical half-away r4. The staged chunks arrive in global
    (ts, event_id) order and each micro-batch is sorted the same way,
    so the converged stream state MUST equal the batch window's value
    at each user's last event — which is exactly what the oracle pins.

    Emits (user, cumulative n_total, n_win, ewma) in update mode; the
    caller keeps the max-n_total row per user as the converged value.
    """
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    K = 20

    def update_ewma(key, pdfs, state: GroupState):
        (user_id,) = key
        vals, n_total = state.get if state.exists else ([], 0)
        vals = list(vals)
        parts = [pdf for pdf in pdfs]
        pdf = pd.concat(parts).sort_values(["ts", "event_id"])
        n_total += len(pdf)
        # half-away-from-zero, matching compat.cents() and the batch
        # EWMA path (ADVICE r4: pandas .round() is half-to-even, which
        # only agreed because fixture values are exact 2dp — sub-cent
        # inputs would silently diverge stream vs batch).
        v100 = pdf["value"].to_numpy() * 100.0
        vc = (
            (np.floor(np.abs(v100) + 0.5) * np.sign(v100)).astype("int64").tolist()
        )
        vals = (vals + vc)[-K:]
        n = len(vals)
        num = sum(v << (K - n + i) for i, v in enumerate(vals))
        den = (1 << K) - (1 << (K - n))
        x = num / den / 100.0
        ewma = math.floor(abs(x) * 1e4 + 0.5) * (1 if x >= 0 else -1) / 1e4
        state.update((vals, n_total))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_total": [n_total],
                "n_win": [n],
                "ewma": [ewma],
            }
        )

    with _replay(spark, sf_dir, n_chunks=6) as rp:
        return rp.run(
            rp.source()
            .select("user_id", "ts", "event_id", "value")
            .groupBy("user_id")
            .applyInPandasWithState(
                update_ewma,
                outputStructType="user_id long, n_total long, n_win int, ewma double",
                stateStructType="vals array<long>, n_total long",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            ),
            mode="update",
        )


def run_window_topk_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_stream_topk (Flink-style streaming top-N):
    the per-(window, user) aggregate is the streaming-stateful part —
    watermark-gated, append-mode, exact integer cents in state — and
    the top-3 rank runs over the EMITTED (closed) windows, where it is
    a bounded per-window pass. Ranking inside the stream would need
    sorted update-mode emission Structured Streaming doesn't do; the
    aggregate-then-rank split is the production pattern (rank in
    foreachBatch or over the sink table) and keeps rank input at
    users-per-window rows, not the event stream."""
    with _replay(spark, sf_dir, n_chunks=8) as rp:
        emitted = rp.run(
            rp.source()
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(cents(F.col("value"))).alias("spend_cents"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                "user_id",
                "n",
                "spend_cents",
            )
        )
    rw = Window.partitionBy("window_start").orderBy(
        F.desc("spend_cents"), F.asc("user_id")
    )
    return (
        emitted.withColumn("rnk", F.row_number().over(rw))
        .filter(F.col("rnk") <= 3)
        .select(
            "window_start",
            "rnk",
            "user_id",
            "n",
            (F.col("spend_cents") / 100.0).alias("spend"),
        )
    )


def _stream_stream_join(spark: SparkSession, sf_dir: str, how: str, select_cols):
    """Shared construction for the two-stream interval join replays:
    stage chunks, build the view and click file streams with 10-minute
    watermarks, join on user_id with the click-within-5-minutes bound
    (`how` = "inner" | "left_outer"), sink to memory, return the table.
    One function so the predicate, watermark delay, and staging can
    never diverge between the hash-checked inner twin and the
    null-semantics outer twin."""
    with _replay(spark, sf_dir, n_chunks=6) as rp:
        v = (
            rp.source()
            .filter(F.col("event_type") == "view")
            .select(
                F.col("event_id").alias("view_id"),
                "user_id",
                F.col("ts").alias("v_ts"),
            )
            .withWatermark("v_ts", "10 minutes")
        )
        k = (
            rp.source()
            .filter(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id").alias("k_user"),
                F.col("ts").alias("k_ts"),
            )
            .withWatermark("k_ts", "10 minutes")
        )
        return rp.run(
            v.join(
                k,
                (F.col("user_id") == F.col("k_user"))
                & (F.col("k_ts") > F.col("v_ts"))
                & (F.col("k_ts") <= F.col("v_ts") + F.expr("INTERVAL 5 MINUTES")),
                how,
            ).select(*select_cols)
        )


def run_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE stream-stream interval join: views and clicks arrive as two
    independent watermarked streams (same staged chunks, two file
    sources), joined on user_id with the click-within-5-minutes time
    bound — the flagship Structured Streaming surface where BOTH sides
    are stateful: each side buffers rows in the state store until the
    other side's matches arrive, and the watermark + time-range
    condition lets the engine evict state older than v_ts + 5min.

    For an INNER join, emission is match-driven, not watermark-gated
    (watermarks only bound state cleanup), so a CLOSED input emits
    every pair exactly once and the result is fully hash-checkable
    against the batch oracle — stronger than the append-mode windowed
    aggregates, whose tail windows stay open at shutdown."""
    return _stream_stream_join(
        spark,
        sf_dir,
        "inner",
        [
            "view_id",
            "click_id",
            "user_id",
            (F.unix_micros(F.col("k_ts")) - F.unix_micros(F.col("v_ts"))).alias(
                "gap_us"
            ),
        ],
    )


def run_stream_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join — the subtle half of the
    two-stream surface: matches emit as they pair (like the inner
    join), but a view with NO click can only emit its null-extended
    row once the watermark proves no future click can still arrive
    inside its 5-minute bound. State eviction and null emission are
    both watermark-driven, so the tail of the input stays buffered at
    shutdown — which is why this key is rows-only (the null boundary
    is watermark-timing-dependent) while its inner twin hash-matches.
    The replay test pins the decidable parts: matched pairs equal the
    batch inner join exactly, every null-extended view is a true batch
    anti-join member, and nulls cover the anti-join set up to the
    final-watermark tail."""
    return _stream_stream_join(
        spark, sf_dir, "left_outer", ["view_id", "user_id", "v_ts", "click_id"]
    )
