"""Traced run: spans and counters around the engine's public entry
points, plus Spark's own in-process metrics, attributed per key.

Everything here lives in the benchmark. ``Tracer.install`` wraps, in
every loaded ``jsmr_spark`` module that holds a reference to them:

* ``jsmr_spark.io.load_table`` (calls, time, memo hits);
* ``jsmr_spark.mr.job`` / ``jsmr_spark.mr.mr_join`` (marks a key as
  a MapReduce key);
* every ``jsmr_spark.streaming.core.run_*`` (marks a streaming key and
  times the runner);
* ``py4j.clientserver.ClientServerConnection.send_command`` (py4j
  round trips).

After each key it reads the driver's status store (stages and jobs the
key started), the Catalyst phase times of the returned DataFrame, and
the micro-batch progress a ``StreamingQueryListener`` received. Spans
(name, start, end, parent, key) are kept in memory and written out by
``dump``.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import sys
import threading
import time

import py4j.clientserver
from pyspark.sql.streaming import StreamingQueryListener

import procfs

_STAGE_FIELDS = {
    "tasks": "numTasks",
    "run_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input_b": "inputBytes",
    "input_rec": "inputRecords",
    "output_b": "outputBytes",
    "shuffle_r_b": "shuffleReadBytes",
    "shuffle_w_b": "shuffleWriteBytes",
    "shuffle_w_rec": "shuffleWriteRecords",
    "spill_b": "diskBytesSpilled",
}
_MB = 1e6


def _wall_ms(data) -> float:
    """completion - submission of a StageData/JobData, in ms (0 if open)."""
    sub, done = data.submissionTime(), data.completionTime()
    if sub.isEmpty() or done.isEmpty():
        return 0.0
    return float(done.get().getTime() - sub.get().getTime())


class _Progress(StreamingQueryListener):
    def __init__(self, sink) -> None:
        self._sink = sink

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self._sink(event.progress)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Tracer:
    """Per-key records of one traced run. ``active`` gates collection,
    so one process can alternate traced and untraced passes."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.active = False
        self.spans: list[tuple[str, float, float, int | None, str | None]] = []
        self._open: list[int] = []
        self._key: str | None = None
        self._rec: dict | None = None
        self._patches: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()
        self._py4j = 0
        self._progress: list = []
        self._seen_tables: dict[tuple, object] = {}
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        gw = spark.sparkContext._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._listener = _Progress(self._on_progress)

    # -- installation -------------------------------------------------

    def install(self) -> None:
        import jsmr_spark.io
        import jsmr_spark.mr
        import jsmr_spark.streaming.core as core

        self._patch_everywhere(jsmr_spark.io, "load_table", self._wrap_load_table)
        for name in ("job", "mr_join"):
            self._patch_everywhere(jsmr_spark.mr, name, lambda f, n=name: self._wrap_flag(f, f"mr.{n}", "mr"))
        for name in [n for n in vars(core) if n.startswith("run_") and callable(getattr(core, n))]:
            self._patch_everywhere(
                core, name, lambda f, n=name: self._wrap_flag(f, f"streaming.{n}", "stream")
            )
        original = py4j.clientserver.ClientServerConnection.send_command
        tracer = self

        @functools.wraps(original)
        def send_command(conn, command, *args, **kwargs):
            if tracer.active:
                with tracer._lock:
                    tracer._py4j += 1
            return original(conn, command, *args, **kwargs)

        self._patches.append((py4j.clientserver.ClientServerConnection, "send_command", original))
        py4j.clientserver.ClientServerConnection.send_command = send_command
        self.spark.streams.addListener(self._listener)

    def uninstall(self) -> None:
        self.spark.streams.removeListener(self._listener)
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def _patch_everywhere(self, module, name: str, make_wrapper) -> None:
        original = getattr(module, name)
        wrapper = make_wrapper(original)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("jsmr_spark") and getattr(mod, name, None) is original:
                self._patches.append((mod, name, original))
                setattr(mod, name, wrapper)

    # -- spans --------------------------------------------------------

    def _span_open(self, name: str) -> int:
        parent = self._open[-1] if self._open else None
        self.spans.append((name, time.perf_counter(), 0.0, parent, self._key))
        self._open.append(len(self.spans) - 1)
        return self._open[-1]

    def _span_close(self, index: int) -> float:
        self._open.pop()
        name, start, _, parent, key = self.spans[index]
        end = time.perf_counter()
        self.spans[index] = (name, start, end, parent, key)
        return end - start

    # -- wrappers -----------------------------------------------------

    def _wrap_load_table(self, original):
        @functools.wraps(original)
        def load_table(spark, sf_dir, name, fresh=False):
            if not self.active or self._rec is None:
                return original(spark, sf_dir, name, fresh)
            span = self._span_open("io.load_table")
            try:
                df = original(spark, sf_dir, name, fresh)
            finally:
                seconds = self._span_close(span)
            ident = (id(spark), os.path.abspath(sf_dir), name)
            self._rec["loads"] += 1
            self._rec["load_s"] += seconds
            self._rec["load_hits"] += int(not fresh and self._seen_tables.get(ident) is df)
            self._seen_tables[ident] = df
            return df

        return load_table

    def _wrap_flag(self, original, span_name: str, flag: str):
        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if not self.active or self._rec is None:
                return original(*args, **kwargs)
            self._rec[flag] = True
            span = self._span_open(span_name)
            try:
                return original(*args, **kwargs)
            finally:
                seconds = self._span_close(span)
                if flag == "stream":
                    self._rec["stream_s"] += seconds

        return wrapper

    def _on_progress(self, progress) -> None:
        ops = progress.stateOperators or []
        self._progress.append(
            {
                "query": str(progress.id),
                "ms": dict(progress.durationMs or {}),
                "state_rows": sum(op.numRowsTotal for op in ops),
                "state_b": sum(op.memoryUsedBytes for op in ops),
            }
        )

    # -- per key ------------------------------------------------------

    def _top_ids(self) -> tuple[int, int]:
        stages = self._store.stageList(None, False, False, self._no_quantiles, None)
        jobs = self._store.jobsList(None)
        top_stage = stages.apply(0).stageId() if stages.size() else -1
        top_job = jobs.apply(0).jobId() if jobs.size() else -1
        return top_stage, top_job

    def begin_key(self, key: str) -> None:
        """Call before building ``key``; starts its span."""
        self._bus.waitUntilEmpty()
        stage0, job0 = self._top_ids()
        self._key = key
        self._rec = {
            "key": key, "mr": False, "stream": False, "stream_s": 0.0,
            "loads": 0, "load_hits": 0, "load_s": 0.0,
            "stage0": stage0, "job0": job0, "progress0": len(self._progress),
            "worker_cpu0": procfs.worker_cpu_s(),
        }
        self._key_span = self._span_open("key")
        self._build_span = self._span_open("queries.build")
        with self._lock:
            self._py4j = 0

    def built(self) -> None:
        """Call between the build and the collect of the current key."""
        with self._lock:
            self._rec["py4j_build"] = self._py4j
        self._rec["build_s"] = self._span_close(self._build_span)
        self._rec["collect_epoch_ms"] = time.time() * 1000.0
        self._collect_span = self._span_open("arrow.toPandas")

    def end_key(self, df, pdf, leaked: int) -> dict:
        """Call after the collect; reads Spark's metrics for the key."""
        rec = self._rec
        rec["collect_s"] = self._span_close(self._collect_span)
        self._span_close(self._key_span)
        rec["worker_cpu_s"] = procfs.worker_cpu_s() - rec.pop("worker_cpu0")
        rec["rows"] = len(pdf)
        rec["result_b"] = int(pdf.memory_usage(deep=True).sum())
        rec["leaked"] = leaked
        rec["phases"] = self._phases(df)
        self._bus.waitUntilEmpty()
        rec.update(self._stages(rec.pop("stage0")))
        rec.update(self._jobs(rec.pop("job0"), rec.pop("collect_epoch_ms")))
        events = self._progress[rec.pop("progress0") :]
        rec["batches"] = len(events)
        for name, ms_key in (
            ("add_batch_ms", "addBatch"),
            ("wal_commit_ms", "walCommit"),
            ("commit_offsets_ms", "commitOffsets"),
            ("query_planning_ms", "queryPlanning"),
            ("trigger_ms", "triggerExecution"),
        ):
            rec[name] = float(sum(e["ms"].get(ms_key, 0) for e in events))
        last = {e["query"]: e for e in events}  # state at each query's last batch
        rec["state_rows"] = sum(e["state_rows"] for e in last.values())
        rec["state_b"] = sum(e["state_b"] for e in last.values())
        self._key, self._rec = None, None
        return rec

    def abort_key(self) -> None:
        """Drop the current key's record after it raised."""
        while self._open:
            self._span_close(self._open[-1])
        self._key, self._rec = None, None

    def _phases(self, df) -> dict[str, float]:
        out = {}
        it = df._jdf.queryExecution().tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            out[kv._1()] = kv._2().durationMs() / 1000.0
        return out

    def _stages(self, since: int) -> dict:
        totals = dict.fromkeys(_STAGE_FIELDS, 0)
        totals["stages"], totals["stage_wall_ms"] = 0, 0.0
        stages = self._store.stageList(None, False, False, self._no_quantiles, None)
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= since:
                break  # the list is ordered by descending stage id
            totals["stages"] += 1
            totals["stage_wall_ms"] += _wall_ms(s)
            for name, getter in _STAGE_FIELDS.items():
                totals[name] += getattr(s, getter)()
        return totals

    def _jobs(self, since: int, collect_epoch_ms: float) -> dict:
        n, wall, collect_wall = 0, 0.0, 0.0
        jobs = self._store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= since:
                break
            n += 1
            ms = _wall_ms(j)
            wall += ms
            sub = j.submissionTime()
            if not sub.isEmpty() and sub.get().getTime() >= collect_epoch_ms - 1:
                collect_wall += ms
        return {"jobs": n, "job_wall_ms": wall, "collect_job_wall_ms": collect_wall}

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                [
                    {"name": n, "start": s, "end": e, "parent": p, "key": k}
                    for n, s, e, p, k in self.spans
                ],
                fh,
            )


def _sum(recs: list[dict], field: str, where=None) -> float:
    return float(sum(r[field] for r in recs if where is None or where(r)))


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def pass_metrics(recs: list[dict], cpus: int, lakehouse_keys: set[str]) -> dict[str, float]:
    """Per-layer metrics of one traced pass (one record per key)."""
    is_mr = lambda r: r["mr"]  # noqa: E731
    is_stream = lambda r: r["stream"]  # noqa: E731
    is_lake = lambda r: r["key"] in lakehouse_keys  # noqa: E731
    phase = lambda name: sum(r["phases"].get(name, 0.0) for r in recs)  # noqa: E731
    run_s = _sum(recs, "run_ms") / 1000.0
    stage_wall_s = _sum(recs, "stage_wall_ms") / 1000.0
    loads = _sum(recs, "loads")
    mr_shuffle = _sum(recs, "shuffle_w_rec", is_mr)
    lake_out = _sum(recs, "output_b", is_lake)
    return {
        "queries.build_s": _sum(recs, "build_s"),
        "queries.py4j_calls": _sum(recs, "py4j_build"),
        "io.load_table_calls": loads,
        "io.load_table_s": _sum(recs, "load_s"),
        "io.memo_hit_ratio": _ratio(_sum(recs, "load_hits"), loads),
        "catalyst.analysis_s": phase("analysis"),
        "catalyst.optimization_s": phase("optimization"),
        "catalyst.planning_s": phase("planning"),
        "exec.steady_s": _sum(recs, "job_wall_ms") / 1000.0,
        "exec.jobs": _sum(recs, "jobs"),
        "exec.stages": _sum(recs, "stages"),
        "exec.tasks": _sum(recs, "tasks"),
        "exec.executor_run_s": run_s,
        "exec.executor_cpu_s": _sum(recs, "cpu_ns") / 1e9,
        "exec.gc_s": _sum(recs, "gc_ms") / 1000.0,
        "exec.input_mb": _sum(recs, "input_b") / _MB,
        "exec.shuffle_read_mb": _sum(recs, "shuffle_r_b") / _MB,
        "exec.shuffle_write_mb": _sum(recs, "shuffle_w_b") / _MB,
        "exec.spill_mb": _sum(recs, "spill_b") / _MB,
        "exec.slot_utilization": _ratio(run_s, stage_wall_s * cpus),
        "arrow.transfer_s": sum(
            max(0.0, r["collect_s"] - r["collect_job_wall_ms"] / 1000.0) for r in recs
        ),
        "arrow.result_rows": _sum(recs, "rows"),
        "arrow.result_mb": _sum(recs, "result_b") / _MB,
        "mr.python_run_s": _sum(recs, "worker_cpu_s", is_mr),
        "mr.tasks": _sum(recs, "tasks", is_mr),
        "mr.shuffle_records": mr_shuffle,
        "mr.shuffle_records_per_input_record": _ratio(mr_shuffle, _sum(recs, "input_rec", is_mr)),
        "streaming.batches": _sum(recs, "batches", is_stream),
        "streaming.add_batch_ms": _sum(recs, "add_batch_ms", is_stream),
        "streaming.wal_commit_ms": _sum(recs, "wal_commit_ms", is_stream),
        "streaming.commit_offsets_ms": _sum(recs, "commit_offsets_ms", is_stream),
        "streaming.query_planning_ms": _sum(recs, "query_planning_ms", is_stream),
        "streaming.state_rows": _sum(recs, "state_rows", is_stream),
        "streaming.state_mb": _sum(recs, "state_b", is_stream) / _MB,
        "streaming.lifecycle_s": _sum(recs, "stream_s", is_stream)
        - _sum(recs, "trigger_ms", is_stream) / 1000.0,
        "lakehouse.output_mb": lake_out / _MB,
        "lakehouse.write_amplification": _ratio(lake_out, _sum(recs, "input_b", is_lake)),
        "cache.leaked_relations": _sum(recs, "leaked"),
    }


def median_metrics(passes: list[dict[str, float]]) -> dict[str, float]:
    return {name: statistics.median(p[name] for p in passes) for name in passes[0]}
