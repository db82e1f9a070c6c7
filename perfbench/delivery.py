"""The two delivery workloads. Both drive ``engine.run_pipeline`` as the
CLI ships it (``EngineConfig`` defaults, ``DEFAULT_GROUPS`` routing)
against the endpoint in the load-generator process.

- ``cdc_live``: open loop at one fixed offered rate; latency runs from
  each event's due time to its first 2xx.
- ``cdc_backfill``: a pre-written backlog drained closed-loop, stopped
  halfway and restarted from its checkpoint.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

import loadgen
import stats
import tracing

HERE = Path(__file__).resolve().parent

#: cdc_live offered load: events/s (half of them routed) and the
#: publisher tick, i.e. one source file per tick. At this rate the
#: pipeline idles between files, so the backlog stays flat.
LIVE_RATE = 170.0
LIVE_TICK_S = 1.0
#: cdc_live publishes this long before the measured window opens; those
#: events warm the pipeline and are delivered but not counted
LIVE_WARMUP_S = 3.0
#: how long past the last due time an event may still count as delivered
GRACE_S = 5.0
#: cdc_backfill backlog: files per second of --seconds, events per file
BACKFILL_FILES_PER_S = 6.0
BACKFILL_EVENTS_PER_FILE = 500
#: no wait for delivery lasts longer than this
WAIT_CAP_S = 100.0
#: set-up samples per run (their median is setup_s)
SETUP_SAMPLES = 3
#: the endpoint must serve this many times the delivered rate alone
HEADROOM = 3.0
WARM_EVENTS = 40
SELFCHECK_S = 0.5


class LoadGen:
    """Handle to the load-generator process (one JSON line per call)."""

    def __init__(self, table_group: dict[str, str]):
        self.proc = subprocess.Popen(
            [sys.executable, str(HERE / "loadgen.py"), "--groups",
             json.dumps(table_group)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        self.url = f"http://127.0.0.1:{self._read()['port']}"

    def _read(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("load generator exited")
        return json.loads(line)

    def call(self, **cmd) -> dict:
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()
        return self._read()

    def wait_received(self, target: int, deadline: float, key: str = "received") -> None:
        while time.time() < deadline and self.call(cmd="stats")[key] < target:
            time.sleep(0.05)

    def dump(self, path: Path) -> dict:
        self.call(cmd="dump", path=str(path))
        with open(path) as fh:
            return json.load(fh)

    def close(self) -> None:
        try:
            self.call(cmd="exit")
            self.proc.wait(10)
        except (OSError, RuntimeError, ValueError, subprocess.TimeoutExpired):
            self.proc.kill()
            self.proc.wait(10)


class Delivery:
    """One delivery run: endpoint, Spark session and pipelines."""

    def __init__(self, ctx):
        from mysql_cdc_to_http_spark.operators.routing import (
            DEFAULT_GROUPS,
            invert_groups,
        )

        self.ctx = ctx
        self.table_group = invert_groups(DEFAULT_GROUPS)
        self.lg = LoadGen(self.table_group)
        self.spark = None
        self.setup_samples: list[float] = []
        self.progress: list[dict] = []

    def routed(self, events: list[dict]) -> list[dict]:
        return [e for e in events if e["source"]["table"] in self.table_group]

    def config(self, path: str):
        from mysql_cdc_to_http_spark.config import EngineConfig

        return EngineConfig(post_url=f"{self.lg.url}/{path}")

    def start_pipeline(self, events_dir: Path, work_dir: Path, path: str = "cdc"):
        from mysql_cdc_to_http_spark import engine

        with self.ctx.tracer.span("engine.run_pipeline"):
            return engine.run_pipeline(
                self.spark, self.config(path), str(events_dir), str(work_dir)
            )

    def collect_progress(self, handle) -> None:
        if not self.ctx.tracer.enabled:
            return
        with self.ctx.tracer.overhead():
            for p in handle.direct.recentProgress:
                self.progress.append(json.loads(p.json) if hasattr(p, "json") else dict(p))

    def setup(self) -> None:
        """First session (JVM launch) plus one untimed pipeline warm-up,
        then ``SETUP_SAMPLES`` timed set-ups: session stop, ``get_spark``,
        ``run_pipeline`` on a one-file source, first batch delivered."""
        from common import start_spark

        ctx = self.ctx
        warm = ctx.work / "warm"
        events = loadgen.make_events(ctx.seed + 1, WARM_EVENTS, first_offset=10**9)
        for e in events:
            e["ts_ms"] = 1_700_000_000_000
        os.makedirs(warm / "data")
        os.makedirs(warm / "stage")
        loadgen.write_file(str(warm / "data"), str(warm / "stage"), "0.json", events)
        per_run = len(self.routed(events))
        with ctx.tracer.span("session.jvm_launch"):
            self.spark = start_spark(ctx.work)
        for k in range(SETUP_SAMPLES + 1):
            if k:
                self.spark.stop()
            t0 = time.perf_counter()
            if k:
                with ctx.tracer.span("session.get_spark"):
                    self.spark = start_spark(ctx.work)
            handle = self.start_pipeline(warm, ctx.work / f"warm_ckpt{k}", "warmup")
            self.lg.wait_received(per_run * (k + 1), time.time() + WAIT_CAP_S, "warmup")
            if k:
                self.setup_samples.append(time.perf_counter() - t0)
            handle.stop()
        if ctx.tracer.enabled:
            self.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
        ctx.tracer.time_foreach_batch("sources.http_sink.batch")

    def finish(self, due: dict[str, float], t_begin: float, deadline: float,
               selfcheck_rps: float, wall_s: float) -> dict:
        """Metrics and gates from the endpoint's receipt log. ``due`` holds
        the measured events; the delivery rate runs from ``t_begin`` to the
        last first-2xx among them."""
        ctx = self.ctx
        dump = self.lg.dump(ctx.work / "receipts.json")
        first = {k: v[0] for k, v in dump["first"].items()}
        lat = stats.latencies_ms(due, first)
        delivered = [first[k] for k in due if k in first]
        late = [(sent - due_t) * 1000.0 for _, due_t, sent in dump["publish_log"]]
        missing = sum(1 for k in due if k not in first or first[k] > deadline)
        window_s = max(max(delivered, default=t_begin) - t_begin, 1e-9)
        rate = (len(due) - missing) / window_s
        headroom_ok = selfcheck_rps >= HEADROOM * rate
        if not headroom_ok:
            print(f"endpoint headroom too small: {selfcheck_rps:.0f} req/s for "
                  f"{rate:.0f} events/s", file=sys.stderr)
        if dump["n_misrouted"]:
            print(f"misrouted deliveries: {dump['misrouted']}", file=sys.stderr)
        out = {
            "correct": missing == 0 and dump["n_misrouted"] == 0 and headroom_ok,
            "attempted": len(due),
            "failed": missing + dump["n_misrouted"],
            "e2e": {
                "setup_s": stats.median(self.setup_samples),
                "latency_p50_ms": stats.percentile(lat, 50),
                "latency_p99_ms": stats.percentile(lat, 99),
                "delivered_frac": stats.delivered_frac(due, first, deadline),
                "throughput_per_s": rate,
            },
        }
        if ctx.tracer.enabled:
            tr = ctx.tracer
            with tr.overhead():
                counters = tracing.spark_counters(self.spark)
            sink_s = tr.durations("sources.http_sink.batch")
            layer = tracing.progress_layer(self.progress, sink_s)
            layer.update(tracing.spark_layer(counters, wall_s, ctx.cores))
            layer.update({
                "sources.http_sink.requests": float(dump["requests"]),
                "sources.http_sink.events_per_request": (
                    dump["events"] / dump["requests"] if dump["requests"] else 0.0
                ),
                "sources.http_sink.connections": float(dump["connections"]),
                "sources.http_sink.non_2xx": float(dump["non_2xx"]),
                "sources.http_sink.dup_events": float(dump["dups"]),
                "loadgen.late_ms_max": max(late, default=0.0),
                "loadgen.selfcheck_rps": selfcheck_rps,
                "sources.cdc.backlog_growth": (
                    stats.backlog_growth(due, first, t_begin, deadline - GRACE_S)
                    if dump["publish_log"] else 0.0
                ),
                "sources.cdc.lag_files_max": tracing.lag_files_max(
                    self.progress, dump["publish_log"], round(LIVE_RATE * LIVE_TICK_S)
                ) if dump["publish_log"] else 0.0,
            })
            out["layer"] = layer
        return out

    def close(self) -> None:
        from common import shutdown_spark

        self.ctx.tracer.unhook()
        if self.spark is not None:
            shutdown_spark(self.spark)
        self.lg.close()


def _setup_layer(ctx) -> dict:
    tr = ctx.tracer
    return {
        "session.get_spark_s": stats.median(tr.durations("session.get_spark")),
        "session.jvm_launch_s": tr.total("session.jvm_launch"),
        "engine.run_pipeline_start_s": stats.median(tr.durations("engine.run_pipeline")),
        "engine.build_delivery_frame_ms": 1000 * stats.median(
            tr.durations("engine.build_delivery_frame")
        ),
    }


def _hook_engine(ctx) -> None:
    from mysql_cdc_to_http_spark import engine

    ctx.tracer.wrap(engine, "build_delivery_frame", "engine.build_delivery_frame")


def cdc_live(ctx) -> dict:
    _hook_engine(ctx)
    run = Delivery(ctx)
    try:
        rps = run.lg.call(cmd="selfcheck", seconds=SELFCHECK_S, clients=2)["rps"]
        run.setup()
        events_dir = ctx.work / "live"
        os.makedirs(events_dir / "data")
        os.makedirs(events_dir / "stage")
        handle = run.start_pipeline(events_dir, ctx.work / "live_ckpt")
        time.sleep(0.5)  # first (empty) trigger
        n = int(LIVE_RATE * (LIVE_WARMUP_S + ctx.seconds))
        t0 = time.time() + 0.2
        run.lg.call(cmd="publish", seed=ctx.seed, n=n, events_dir=str(events_dir),
                    rate=LIVE_RATE, tick=LIVE_TICK_S, t0=t0)
        routed = run.routed(loadgen.make_events(ctx.seed, n))
        due_at = {loadgen.event_key(e): t0 + (e["offset"] - 1) / LIVE_RATE for e in routed}
        t_begin = t0 + LIVE_WARMUP_S
        due = {k: t for k, t in due_at.items() if t >= t_begin}
        deadline = t0 + n / LIVE_RATE + GRACE_S
        run.lg.wait_received(len(due_at), deadline)
        run.collect_progress(handle)
        handle.stop()
        out = run.finish(due, t_begin, deadline, rps, time.time() - t0)
        if ctx.tracer.enabled:
            out["layer"].update(_setup_layer(ctx))
        return out
    finally:
        run.close()


def cdc_backfill(ctx) -> dict:
    _hook_engine(ctx)
    run = Delivery(ctx)
    try:
        rps = run.lg.call(cmd="selfcheck", seconds=SELFCHECK_S, clients=2)["rps"]
        events_dir = ctx.work / "backlog"
        held = ctx.work / "held"
        for d in (events_dir / "data", events_dir / "stage", held):
            os.makedirs(d)
        n_files = max(2, round(BACKFILL_FILES_PER_S * ctx.seconds))
        per = BACKFILL_EVENTS_PER_FILE
        events = loadgen.make_events(ctx.seed, n_files * per)
        for e in events:
            e["ts_ms"] = 1_600_000_000_000 + e["offset"]
        names = [f"{k:07d}.json" for k in range(n_files)]
        for k, name in enumerate(names):
            loadgen.write_file(str(held), str(events_dir / "stage"), name,
                               events[k * per:(k + 1) * per])
        run.setup()
        # Drain the first part, stop on a committed batch, release the rest
        # and restart from the checkpoint. The split is half a micro-batch
        # before the middle of the backlog, so the median event is
        # delivered mid-batch after the restart, not on a batch boundary.
        split = max(1, n_files // 2 - run.config("cdc").max_files_per_trigger // 2)
        routed = run.routed(events)
        first_part = len(run.routed(events[:split * per]))

        def release(part: list[str]) -> None:
            for name in part:
                os.rename(held / name, events_dir / "data" / name)

        t0 = time.time()
        deadline = t0 + WAIT_CAP_S
        ckpt = ctx.work / "backlog_ckpt"
        release(names[:split])
        handle = run.start_pipeline(events_dir, ckpt)
        run.lg.wait_received(first_part, deadline)
        handle.direct.processAllAvailable()  # stop on a committed batch
        run.collect_progress(handle)
        handle.stop()
        release(names[split:])
        handle = run.start_pipeline(events_dir, ckpt)  # resume from checkpoint
        run.lg.wait_received(len(routed), deadline)
        run.collect_progress(handle)
        handle.stop()
        due = {loadgen.event_key(e): t0 for e in routed}
        out = run.finish(due, t0, deadline, rps, time.time() - t0)
        if ctx.tracer.enabled:
            out["layer"].update(_setup_layer(ctx))
        return out
    finally:
        run.close()
