"""Tracing for the ``--trace 1`` run: spans around the benchmark's calls
into each layer, a timer on every ``foreachBatch`` call, streaming
progress reports, and Spark's own job and stage counters.

Spans are kept in memory and written to one JSON file when the run ends.
With tracing off, :class:`Tracer` records nothing and installs no hooks.
"""

from __future__ import annotations

import contextlib
import json
import time

from stats import percentile


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[str, float, float, str | None]] = []
        self.self_s = 0.0  # time spent reading counters for the trace
        self._stack: list[str] = []
        self._undo: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.perf_counter(), parent))
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        """Seconds of every span called ``name``."""
        return [t1 - t0 for n, t0, t1, _ in self.spans if n == name]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    @contextlib.contextmanager
    def overhead(self):
        """Account the enclosed tracing work as tracer self time."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.self_s += time.perf_counter() - t0

    def wrap(self, owner, attr: str, span_name: str) -> None:
        """Replace ``owner.attr`` by a spanned call until :meth:`unhook`."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        def spanned(*args, **kwargs):
            with self.span(span_name):
                return orig(*args, **kwargs)

        setattr(owner, attr, spanned)
        self._undo.append(lambda: setattr(owner, attr, orig))

    def time_foreach_batch(self, span_name: str) -> None:
        """Time every function handed to ``DataStreamWriter.foreachBatch``,
        whichever poster the engine passes."""
        if not self.enabled:
            return
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        orig = DataStreamWriter.foreachBatch
        tracer = self

        def foreach_batch(writer, func):
            def timed(batch_df, epoch_id):
                t0 = time.perf_counter()
                try:
                    return func(batch_df, epoch_id)
                finally:
                    tracer.spans.append(
                        (span_name, t0, time.perf_counter(), "engine.trigger")
                    )

            return orig(writer, timed)

        DataStreamWriter.foreachBatch = foreach_batch
        self._undo.append(lambda: setattr(DataStreamWriter, "foreachBatch", orig))

    def unhook(self) -> None:
        while self._undo:
            self._undo.pop()()

    def write(self, path) -> None:
        if not self.enabled:
            return
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                [
                    {"name": n, "start": t0, "end": t1, "parent": p}
                    for n, t0, t1, p in self.spans
                ],
                fh,
            )


def _stage_rows(spark, stage_ids: list[int] | None) -> list:
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    if stage_ids is None:
        gw = sc._gateway
        seq = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
        return [seq.apply(i) for i in range(seq.size())]
    rows = []
    for sid in stage_ids:
        try:
            rows.append(store.lastStageAttempt(sid))
        except Exception:  # noqa: BLE001 — stage evicted from the store
            continue
    return rows


def spark_counters(spark, job_ids: list[int] | None = None) -> dict[str, float]:
    """Jobs, stages, tasks and task metrics summed over ``job_ids`` (all
    jobs the live status store still holds when None)."""
    tracker = spark.sparkContext.statusTracker()
    if job_ids is None:
        n_jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None).size()
        stage_ids = None
    else:
        n_jobs = len(job_ids)
        stage_ids = sorted({
            sid for jid in job_ids
            for sid in (getattr(tracker.getJobInfo(jid), "stageIds", None) or [])
        })
    out = {
        "jobs": float(n_jobs), "stages": 0.0, "tasks": 0.0, "task_cpu_s": 0.0,
        "task_run_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
        "gc_s": 0.0, "input_mb": 0.0,
    }
    for st in _stage_rows(spark, stage_ids):
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks()
        out["task_cpu_s"] += st.executorCpuTime() / 1e9
        out["task_run_s"] += st.executorRunTime() / 1e3
        out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
        out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
        out["gc_s"] += st.jvmGcTime() / 1e3
        out["input_mb"] += st.inputBytes() / 2**20
    return out


def spark_layer(counters: dict[str, float], wall_s: float, cores: int) -> dict[str, float]:
    """``spark.*`` per-layer metrics from :func:`spark_counters`."""
    out = {f"spark.{k}": v for k, v in counters.items() if k != "task_run_s"}
    out["spark.core_util"] = counters["task_run_s"] / max(wall_s * cores, 1e-9)
    return out


def progress_layer(progress: list[dict], sink_s: list[float]) -> dict[str, float]:
    """``engine.*`` and ``sources.cdc.*`` metrics from streaming progress
    reports, with ``sink_s`` the timed ``foreachBatch`` calls."""
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    dur = [p.get("durationMs", {}) for p in batches]

    def col(key: str) -> list[float]:
        return [float(d.get(key, 0)) for d in dur]

    trigger = col("triggerExecution")
    busy_ms = sum(float(p.get("durationMs", {}).get("triggerExecution", 0))
                  for p in progress)
    span_s = 0.0
    if len(progress) >= 2:
        span_s = _ts(progress[-1]) - _ts(progress[0]) + \
            progress[-1].get("durationMs", {}).get("triggerExecution", 0) / 1000.0
    return {
        "engine.trigger_ms_p50": percentile(trigger, 50),
        "engine.trigger_ms_p99": percentile(trigger, 99),
        "engine.query_planning_ms_p50": percentile(col("queryPlanning"), 50),
        "engine.wal_commit_ms_p50": percentile(col("walCommit"), 50),
        "engine.commit_offsets_ms_p50": percentile(col("commitOffsets"), 50),
        "engine.batches": float(len(batches)),
        "engine.busy_frac": busy_ms / 1000.0 / span_s if span_s > 0 else 0.0,
        "sources.cdc.latest_offset_ms_p50": percentile(col("latestOffset"), 50),
        "sources.cdc.get_batch_ms_p50": percentile(col("getBatch"), 50),
        "sources.cdc.rows_per_batch_p50": percentile(
            [float(p["numInputRows"]) for p in batches], 50
        ),
        "sources.http_sink.batch_ms_p50": percentile([s * 1000 for s in sink_s], 50),
        "sources.http_sink.share_of_trigger": (
            sum(sink_s) * 1000.0 / sum(trigger) if trigger else 0.0
        ),
    }


def _ts(progress: dict) -> float:
    from datetime import datetime

    return datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()


def lag_files_max(progress: list[dict], publish_log: list, events_per_file: int) -> float:
    """Most files published but not yet consumed, seen at any trigger
    start: files out by the trigger's timestamp minus files read before."""
    sent = sorted(t for _, _, t in publish_log)
    consumed = 0
    worst = 0
    for p in progress:
        t = _ts(p)
        out = sum(1 for s in sent if s <= t)
        worst = max(worst, out - consumed // max(events_per_file, 1))
        consumed += int(p.get("numInputRows", 0))
    return float(worst)
