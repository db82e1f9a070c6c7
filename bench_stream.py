#!/usr/bin/env python
"""Streaming throughput/soak bench — the reference's hot path, measured.

The reference is a stream processor (its entire data path is
consume → transform → deliver, main.go:50-123); the batch headline in
``bench.py`` proves operator cost but says nothing about sustained
micro-batch throughput, per-batch latency, or state growth. This bench
replays the ``$SPARK_GRAFT_SF_DIR`` feeds as timed micro-batches through
the two stateful surfaces that define the engine's streaming story:

1. **CDC pipeline**: envelope JSON files → streaming parse →
   ``merge_batch_into_state`` foreachBatch merge into the parquet state store
   (sources/cdc.py → streaming/latest_state.py), INCLUDING a mid-stream
   kill + checkpoint restart. Reports sustained rows/s, per-batch
   latency percentiles, state rows/bytes per batch, and two hard
   checks: the resumed snapshot equals the batch ``latest_state`` of
   the full feed (exactly-once effect), and state stays bounded by the
   key domain while input grows per batch.
2. **Stream-stream interval join** (queries/streaming.py
   q_stream_stream_join): both sides streamed, watermark + event-time
   bound state eviction. Reports input rows/s through the join.
3. **HTTP delivery path** (the reference's actual value path, R12):
   the CDC feed streams through ``build_delivery_frame`` into
   ``http_batch_poster`` — the poster ``run_pipeline`` ships — against
   a local HTTP/1.1 echo server, with a deterministic ~2% of rows
   routed to a /poison endpoint that 500s. Reports delivered rows/s
   (incl. retries + DLQ parquet writes), dead-letter counts, and a
   heal + ``replay_dlq`` convergence cycle that must drain the DLQ to
   empty.

Prints exactly ONE JSON line standalone; ``bench.py`` embeds the same
dict under a ``"stream"`` key so the driver records it in BENCH_r{N}.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _percentile(sorted_vals: list[float], p: float) -> float:
    if not sorted_vals:
        return 0.0
    idx = min(len(sorted_vals) - 1, int(round(p * (len(sorted_vals) - 1))))
    return sorted_vals[idx]


def _write_scaled_event_files(
    spark, sf_dir: str, n_files: int, replicate: int
) -> str:
    """Materialize a ``replicate``× copy of the synthetic feed: replica
    r shifts every offset by r·(max_offset+1), so the scaled feed is
    one long monotone change stream (same envelope schema, ×r rows) —
    the 10× soak's input. Cached like write_event_files."""
    import glob as globmod  # noqa: F401 (parity with sources.cdc imports)

    from pyspark.sql import functions as F

    from mysql_cdc_to_http_spark.operators.envelope import serialize
    from mysql_cdc_to_http_spark.sources.cdc import (
        event_files_dir,
        materialize_ordered_buckets,
        synthetic_change_events,
    )

    out = event_files_dir(sf_dir, n_files) + f"_x{replicate}"
    done = os.path.join(out, "_done")
    if os.path.exists(done):
        return out
    events = synthetic_change_events(spark, sf_dir)
    max_off = events.agg(F.max("offset")).collect()[0][0] + 1
    reps = spark.range(replicate).select(F.col("id").alias("__rep"))
    scaled = events.crossJoin(reps).select(
        "before",
        "after",
        "source",
        "op",
        (F.col("offset") + F.col("__rep") * max_off).alias("offset"),
        "ts_ms",
    )
    env = F.struct("before", "after", "source", "op", "offset", "ts_ms")
    payloads = scaled.select(F.col("offset"), serialize(env).alias("value"))
    materialize_ordered_buckets(
        payloads.select("offset", "value"),
        order_col="offset",
        out_dir=os.path.join(out, "data"),
        n_files=n_files,
        fmt="text",
        value_cols=["value"],
    )
    with open(done, "w") as fh:
        fh.write("ok")
    return out


def bench_cdc_pipeline(
    spark,
    sf_dir: str,
    n_files: int = 16,
    replicate: int = 1,
    key_domain: int = 1000,
) -> dict:
    """Replay the synthetic CDC feed as ``n_files`` micro-batches into
    the latest-state store, killing and resuming the query mid-feed.

    ``replicate``/``key_domain`` scale the soak: replicate=10 with a
    10×-wider key domain replays 10× the rows over 10× the keys — the
    envelope that shows rows/s holding and state growing with KEYS,
    not input (state_bounded at one size proves little; round-6
    verdict item #7)."""
    from pyspark.sql import functions as F

    from mysql_cdc_to_http_spark.sources.cdc import (
        read_change_events,
        stream_change_events,
        write_event_files,
    )
    from mysql_cdc_to_http_spark.streaming.latest_state import (
        latest_state,
        merge_batch_into_state,
        read_state,
    )

    if replicate > 1:
        events_dir = _write_scaled_event_files(
            spark, sf_dir, n_files, replicate
        )
    else:
        events_dir = write_event_files(spark, sf_dir, n_files=n_files)
    work = tempfile.mkdtemp(prefix="graft_stream_bench_")
    state_dir = os.path.join(work, "state")
    ckpt = os.path.join(work, "ckpt")
    key_cols = ["tbl", "pk"]

    def _keyed(df):
        return df.select(
            F.col("source.table").alias("tbl"),
            (F.col("offset") % key_domain).alias("pk"),
            "op",
            "offset",
            F.col("after.o_totalprice").alias("price"),
        )

    batch_metrics: list[dict] = []

    def _merge(batch_df, epoch_id):
        t0 = time.perf_counter()
        n = batch_df.count()
        merge_batch_into_state(spark, batch_df, state_dir, key_cols, "offset")
        batch_metrics.append(
            {
                "epoch": int(epoch_id),
                "rows": n,
                "merge_ms": round((time.perf_counter() - t0) * 1000, 1),
                "state_bytes": _dir_bytes(state_dir),
            }
        )

    def _start():
        return (
            _keyed(stream_change_events(spark, events_dir))
            .writeStream.foreachBatch(_merge)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .start()
        )

    # Pin a sane state/shuffle layout for the run (restored after) —
    # a 200-partition harness default would fragment every micro-batch.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try:
        t_start = time.perf_counter()
        # Phase A: run to roughly mid-feed, then kill the query — the
        # soak's crash stand-in (the JVM survives; Spark's checkpoint
        # and the state store's commit protocol carry the resume).
        q = _start()
        half = n_files // 2
        while len(batch_metrics) < half and q.isActive:
            time.sleep(0.05)
        q.stop()
        q.awaitTermination(30)
        batches_before_kill = len(batch_metrics)
        # Phase B: restart from the same checkpoint, drain the feed.
        q = _start()
        q.processAllAvailable()
        q.stop()
        wall = time.perf_counter() - t_start
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

    # ---- verification (untimed) ----
    all_events = _keyed(read_change_events(spark, events_dir))
    expected = latest_state(all_events, key_cols, offset_col="offset")
    want = {
        (r.tbl, r.pk): (r.offset, r.price) for r in expected.collect()
    }
    got = {
        (r.tbl, r.pk): (r.offset, r.price)
        for r in read_state(spark, state_dir).collect()
    }
    resumed_exactly_once = got == want
    # distinct-count distributedly — at the 10x soak the feed is
    # 1.5M rows; collecting them to the driver for a set() is exactly
    # the anti-pattern the engine bans
    n_keys = all_events.select("tbl", "pk").distinct().count()
    state_rows = (
        spark.read.parquet(state_dir).count() if os.path.exists(state_dir) else 0
    )
    # Bounded state: rows capped by the key domain (tombstones included),
    # and bytes plateau — the last batch's store is within 1.5× of the
    # mid-feed store even though input rows kept arriving.
    sizes = [m["state_bytes"] for m in batch_metrics]
    state_bounded = (
        state_rows <= n_keys
        and len(sizes) >= 4
        and sizes[-1] <= 1.5 * sizes[len(sizes) // 2]
    )
    shutil.rmtree(work, ignore_errors=True)

    rows_total = sum(m["rows"] for m in batch_metrics)
    rows_feed = all_events.count()
    merge_ms = sorted(m["merge_ms"] for m in batch_metrics)
    return {
        # rows PROCESSED — the mid-feed kill replays its uncommitted
        # batch (at-least-once delivery), so this exceeds rows_feed by
        # exactly the replayed batch; the idempotent merge absorbs it
        # (resumed_exactly_once checks the EFFECT is once).
        "rows": rows_total,
        "rows_feed": rows_feed,
        "rows_replayed": rows_total - rows_feed,
        "batches": len(batch_metrics),
        "batches_before_kill": batches_before_kill,
        "wall_sec": round(wall, 3),
        "rows_per_sec": round(rows_total / wall, 1) if wall > 0 else None,
        "batch_ms_p50": _percentile(merge_ms, 0.5),
        "batch_ms_p95": _percentile(merge_ms, 0.95),
        "batch_ms_max": merge_ms[-1] if merge_ms else 0.0,
        "state_rows": state_rows,
        "state_keys_domain": n_keys,
        "state_bytes_final": sizes[-1] if sizes else 0,
        "resumed_exactly_once": resumed_exactly_once,
        "state_bounded": state_bounded,
    }


def bench_stream_stream_join(spark, sf_dir: str) -> dict:
    """Input rows/s through the watermarked interval join — both sides
    are streams, state evicted by the event-time bound."""
    from mysql_cdc_to_http_spark.queries import all_queries

    fn = all_queries()["q_stream_stream_join"]
    t0 = time.perf_counter()
    out = fn(spark, sf_dir)
    n_out = out.count()
    wall = time.perf_counter() - t0
    n_in = 2 * spark.read.parquet(
        os.path.join(sf_dir, "events.parquet")
    ).count()
    return {
        "rows_in": n_in,
        "rows_out": n_out,
        "wall_sec": round(wall, 3),
        "rows_per_sec": round(n_in / wall, 1) if wall > 0 else None,
    }


def bench_ss_join_outer_latency(spark, sf_dir: str) -> dict:
    """r8 verdict #5: q_stream_stream_join_outer is the suite's wall
    maximum (~10 s) and is scheduling-constant, not data-bound — but
    nothing PROVED which part of the per-micro-batch pipeline dominates.
    This probe runs the same left-outer interval join while capturing
    StreamingQuery progress, and reports the per-batch duration
    decomposition (addBatch = plan+execute, getBatch/latestOffset =
    source, walCommit/commitOffsets = checkpoint bookkeeping,
    queryPlanning) plus per-state-operator commit times, so the latency
    floor is attributed instead of asserted."""
    import pyspark.sql.functions as F

    from mysql_cdc_to_http_spark.queries.streaming import _stream_events

    left = (
        _stream_events(spark, sf_dir)
        .select(
            F.col("event_id").alias("left_id"),
            "user_id",
            F.col("ts").alias("left_ts"),
        )
        .withWatermark("left_ts", "10 minutes")
    )
    right = (
        _stream_events(spark, sf_dir)
        .select(
            F.col("event_id").alias("right_id"),
            F.col("user_id").alias("r_user_id"),
            F.col("ts").alias("right_ts"),
        )
        .withWatermark("right_ts", "10 minutes")
    )
    joined = left.join(
        right,
        (F.col("user_id") == F.col("r_user_id"))
        & (F.col("right_ts") > F.col("left_ts"))
        & (
            F.col("right_ts")
            <= F.col("left_ts") + F.expr("INTERVAL 5 minutes")
        ),
        "left_outer",
    ).select("left_id", "right_id", "user_id", "left_ts", "right_ts")

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    t0 = time.perf_counter()
    try:
        q = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName("bench_ssj_outer_latency")
            .start()
        )
        try:
            q.processAllAvailable()
            progress = list(q.recentProgress)
        finally:
            q.stop()
            q.awaitTermination(30)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    wall = time.perf_counter() - t0

    dur_keys = (
        "addBatch",
        "getBatch",
        "latestOffset",
        "queryPlanning",
        "triggerExecution",
        "walCommit",
        "commitOffsets",
    )
    dur_totals = {k: 0 for k in dur_keys}
    state_ops: dict[str, dict] = {}
    n_batches = 0
    for p in progress:
        d = p.get("durationMs") or {}
        if not d:
            continue
        n_batches += 1
        for k in dur_keys:
            dur_totals[k] += int(d.get(k, 0))
        for op in p.get("stateOperators") or []:
            name = op.get("operatorName", "?")
            agg = state_ops.setdefault(
                name, {"commit_ms": 0, "rows_total_max": 0}
            )
            agg["commit_ms"] += int(op.get("commitTimeMs", 0))
            agg["rows_total_max"] = max(
                agg["rows_total_max"], int(op.get("numRowsTotal", 0))
            )
    other = dur_totals["triggerExecution"] - sum(
        dur_totals[k] for k in dur_keys if k not in (
            "triggerExecution",
        )
    )
    return {
        "n_batches": n_batches,
        "wall_sec": round(wall, 3),
        "duration_ms_total": dur_totals,
        "trigger_minus_components_ms": other,
        "state_operators": state_ops,
    }


def bench_ivm_view(spark, sf_dir: str, n_files: int = 16) -> dict:
    """Micro-batch joined-view maintenance (streaming IVM): replay the
    CDC feed through stream_changes_to_view and check the final view
    against the batch identity latest_state(feed) ⋈ dim."""
    from pyspark.sql import functions as F

    from mysql_cdc_to_http_spark.sources.cdc import (
        read_change_events,
        stream_change_events,
        write_event_files,
    )
    from mysql_cdc_to_http_spark.streaming.incremental_join import (
        stream_changes_to_view,
    )
    from mysql_cdc_to_http_spark.streaming.latest_state import latest_state

    events_dir = write_event_files(spark, sf_dir, n_files=n_files)
    work = tempfile.mkdtemp(prefix="graft_ivm_bench_")
    view_dir = os.path.join(work, "view")
    dim = spark.createDataFrame(
        [("O", "open"), ("P", "pending"), ("F", "final")],
        ["o_orderstatus", "status_label"],
    )
    changes = stream_change_events(spark, events_dir)
    t0 = time.perf_counter()
    q = stream_changes_to_view(
        changes,
        spark,
        view_dir,
        os.path.join(work, "ckpt"),
        dim,
        fact_key="o_orderkey",
        join_key="o_orderstatus",
    )
    q.processAllAvailable()
    q.stop()
    wall = time.perf_counter() - t0
    feed = read_change_events(spark, events_dir)
    n_in = feed.count()
    got = spark.read.parquet(view_dir)
    key = F.coalesce(
        F.col("after.o_orderkey"), F.col("before.o_orderkey")
    ).alias("__k")
    expected = (
        latest_state(
            feed.select("op", "offset", "before", "after", key),
            key_cols=["__k"],
        )
        .select("after.*")
        .join(dim, "o_orderstatus")
        .select(*got.columns)
    )
    matches = (
        got.count() == expected.count()
        and got.exceptAll(expected).count() == 0
    )
    out = {
        "rows_in": n_in,
        "view_rows": got.count(),
        "wall_sec": round(wall, 3),
        "rows_per_sec": round(n_in / wall, 1) if wall > 0 else None,
        "view_matches_batch": matches,
    }
    shutil.rmtree(work, ignore_errors=True)
    return out


def bench_session_state(spark, sf_dir: str) -> dict:
    """Input rows/s through the DYNAMIC-GAP session-window aggregate —
    the heaviest streaming state shape (per-key session objects merged
    on overlap, not fixed-window counters). Complete-mode re-emission
    makes this a stress number, not a latency number."""
    from mysql_cdc_to_http_spark.queries import all_queries

    fn = all_queries()["q_stream_session_dynamic"]
    t0 = time.perf_counter()
    out = fn(spark, sf_dir)
    n_sessions = out.count()
    wall = time.perf_counter() - t0
    n_in = spark.read.parquet(
        os.path.join(sf_dir, "events.parquet")
    ).count()
    return {
        "rows_in": n_in,
        "sessions_out": n_sessions,
        "wall_sec": round(wall, 3),
        "rows_per_sec": round(n_in / wall, 1) if wall > 0 else None,
    }


def bench_http_delivery(
    spark, sf_dir: str, n_files: int = 8, poison_pct: int = 2
) -> dict:
    """The reference's actual VALUE path (R12: consume → envelope →
    HTTP POST, main.go:105-113) measured end-to-end: the CDC feed
    streams through build_delivery_frame into http_batch_poster (the
    poster run_pipeline ships) against a local threaded echo server.
    ~poison_pct% of rows are deterministically routed to a /poison
    endpoint that 500s, so the run also exercises retry +
    dead-lettering; after the feed drains the endpoint is healed and
    ONE replay_dlq cycle must converge the DLQ to empty (drained epoch
    dirs deleted).

    Reported: delivered rows/s (wall covers POSTs incl. retries and
    DLQ parquet writes), 2xx/5xx counts, dlq_rows, replay counters.
    Phase 2 (r8 verdict #8) re-runs the feed with poison ON while a
    background thread fires replay_dlq cycles against the SAME DLQ
    tree, healing the endpoint mid-soak — asserting replay racing
    live ingestion converges (DLQ empty, every routed idempotency key
    delivered; the _SUCCESS commit gate in replay_dlq is what makes
    the race loss-free).
    Scale shape: delivery runs partition-parallel on executors, each
    partition holding ONE keep-alive HTTP connection for its whole
    batch (_KeepAlivePoster — the same connection-amortization the Go
    http.Client gave the reference implicitly) — rows/s is therefore
    a LOWER bound set by the localhost echo server's request round
    trip, not by connection setup."""
    import http.server
    import threading

    from pyspark.sql import functions as F

    from mysql_cdc_to_http_spark.engine import build_delivery_frame
    from mysql_cdc_to_http_spark.operators.sampling import split_bucket
    from mysql_cdc_to_http_spark.sources.cdc import (
        stream_change_events,
        write_event_files,
    )
    from mysql_cdc_to_http_spark.sources.http_sink import (
        http_batch_poster,
        replay_dlq,
    )

    counters = {"ok": 0, "err": 0}
    lock = threading.Lock()
    healed = threading.Event()
    # phase-2 key tracking: when a set is pushed here, the echo server
    # records each delivered Idempotency-Key into it (convergence is
    # asserted as key-set coverage, not counts — duplicates are legal
    # under at-least-once, dedup is the downstream consumer's job)
    track_keys: list[set] = []

    class _Echo(http.server.BaseHTTPRequestHandler):
        # HTTP/1.1 so the sink's keep-alive connections actually persist
        # (the default 1.0 closes per response, forcing a TCP setup per
        # row and understating the sink's real throughput), and Nagle
        # off so the 2-byte body segment isn't held behind delayed-ACK
        # (~40 ms/request = 23 rows/s single-stream until disabled)
        protocol_version = "HTTP/1.1"
        disable_nagle_algorithm = True

        def do_POST(self):  # noqa: N802
            self.rfile.read(int(self.headers.get("Content-Length", 0)))
            if self.path.endswith("/poison") and not healed.is_set():
                with lock:
                    counters["err"] += 1
                self.send_response(500)
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
            with lock:
                counters["ok"] += 1
                if track_keys:
                    track_keys[0].add(
                        self.headers.get("Idempotency-Key", "")
                    )
            body = b"{}"
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _Echo)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_port}"

    events_dir = write_event_files(spark, sf_dir, n_files=n_files)
    work = tempfile.mkdtemp(prefix="graft_http_bench_")
    dlq = os.path.join(work, "dlq")
    ckpt = os.path.join(work, "ckpt")

    def _frame(changes):
        frame = build_delivery_frame(changes)
        # plant the poison route deterministically (md5 coin on the
        # idempotency key — reproducible across runs)
        return frame.withColumn(
            "grp",
            F.when(
                split_bucket(F.col("idem_key"), 100, salt="http-soak-v1")
                < poison_pct,
                F.lit("poison"),
            ).otherwise(F.col("grp")),
        )

    poster = http_batch_poster(base, dlq, retries=1)
    t0 = time.perf_counter()
    q = (
        _frame(stream_change_events(spark, events_dir))
        .writeStream.foreachBatch(poster)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    wall = time.perf_counter() - t0

    import glob as _glob

    dlq_rows = 0
    if _glob.glob(f"{dlq}/epoch=*"):
        dlq_rows = spark.read.parquet(f"{dlq}/epoch=*").count()
    delivered = counters["ok"]
    rejected_5xx = counters["err"]

    # heal + one replay cycle: DLQ must drain to empty
    healed.set()
    t1 = time.perf_counter()
    still_failing = replay_dlq(spark, dlq, base, retries=0)
    replay_wall = time.perf_counter() - t1
    dlq_drained = still_failing == 0 and _glob.glob(f"{dlq}/epoch=*") == []
    replayed_ok = counters["ok"] - delivered

    # ---- phase 2 (r8 verdict #8): replay RACING live ingestion ----
    # Fresh DLQ tree, poison back on. While the poster is still
    # draining the feed (writing new epoch dirs), a background thread
    # runs replay_dlq cycles against the same tree; the endpoint heals
    # midway. Convergence contract: after the stream finishes and a
    # final bounded replay loop, the DLQ is EMPTY and every idempotency
    # key the feed routed was delivered at least once (exactly-once is
    # downstream dedup's job — keys are preserved). The _SUCCESS gate
    # in replay_dlq is what makes the race safe: an epoch mid-write is
    # invisible to replay until its parquet job commits.
    healed.clear()
    work2 = tempfile.mkdtemp(prefix="graft_http_bench2_")
    dlq2 = os.path.join(work2, "dlq")
    ckpt2 = os.path.join(work2, "ckpt")
    seen_keys: set[str] = set()
    track_keys.append(seen_keys)  # _Echo records keys from here on
    poster2 = http_batch_poster(base, dlq2, retries=1)
    replay_cycles = {"n": 0}
    stop_replaying = threading.Event()

    def _replay_loop():
        while not stop_replaying.is_set():
            time.sleep(0.25)
            try:
                replay_dlq(spark, dlq2, base, retries=0)
                replay_cycles["n"] += 1
            except Exception:  # noqa: BLE001 — racing cycles may collide
                pass
            if replay_cycles["n"] == 3:
                healed.set()  # heal mid-soak, while batches still post

    replayer = threading.Thread(target=_replay_loop, daemon=True)
    try:
        t2 = time.perf_counter()
        q2 = (
            _frame(stream_change_events(spark, events_dir))
            .writeStream.foreachBatch(poster2)
            .option("checkpointLocation", ckpt2)
            .outputMode("append")
            .start()
        )
        replayer.start()
        q2.processAllAvailable()
        q2.stop()
        healed.set()  # in case fewer than 3 cycles ran before drain
        soak_wall = time.perf_counter() - t2  # the soak itself, loop excl.
        # Stop and JOIN the background replayer BEFORE the convergence
        # loop — two replay_dlq cycles racing the same epoch dirs can
        # collide on os.replace/rmtree, and unlike the thread (which
        # swallows exceptions) a main-thread collision would crash the
        # bench intermittently (round-9 advice).
        stop_replaying.set()
        replayer.join(timeout=10)
        # final convergence: bounded replay cycles until empty
        for _ in range(5):
            try:
                if replay_dlq(spark, dlq2, base, retries=0) == 0:
                    break
            except Exception:  # noqa: BLE001 — same guard as the thread
                pass
    finally:
        stop_replaying.set()
        track_keys.clear()

    from mysql_cdc_to_http_spark.sources.cdc import read_change_events

    expected_keys = {
        r["idem_key"]
        for r in _frame(read_change_events(spark, events_dir))
        .select("idem_key")
        .collect()
    }
    concurrent_converged = bool(
        _glob.glob(f"{dlq2}/epoch=*") == []
        and expected_keys <= seen_keys
    )

    srv.shutdown()
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(work2, ignore_errors=True)

    rows_total = delivered + dlq_rows  # every routed row accounted for
    return {
        "rows_routed": rows_total,
        "rows_delivered_2xx": delivered,
        "rows_rejected_5xx": rejected_5xx,
        "dlq_rows": dlq_rows,
        "wall_sec": round(wall, 3),
        "rows_per_sec": round(rows_total / wall, 1) if wall > 0 else None,
        "replay_still_failing": still_failing,
        "replay_delivered": replayed_ok,
        "replay_wall_sec": round(replay_wall, 3),
        "dlq_drained_after_replay": bool(dlq_drained),
        "delivery_complete": bool(
            dlq_drained and replayed_ok == dlq_rows
        ),
        "concurrent_replay_wall_sec": round(soak_wall, 3),
        "concurrent_replay_cycles": replay_cycles["n"],
        "concurrent_keys_expected": len(expected_keys),
        "concurrent_keys_delivered": len(seen_keys),
        "concurrent_replay_converged": concurrent_converged,
    }


def _guard(fn, *args, **kwargs) -> dict:
    """Isolate one bench section: a crash (e.g. r9's transient chmod
    ExitCodeException in a checkpoint dir) yields {"error": ...} for THAT
    section instead of aborting the entire streaming suite."""
    try:
        return fn(*args, **kwargs)
    except Exception as exc:  # pragma: no cover - environment-dependent
        return {"error": f"{type(exc).__name__}: {exc}"[:300]}


def run(spark, sf_dir: str, n_files: int = 16) -> dict:
    cdc = _guard(bench_cdc_pipeline, spark, sf_dir, n_files=n_files)
    # 10× soak: 10× the rows over a 10×-wider key domain. Sub-linear
    # scaling contract: throughput holds within 2× while input is 10×,
    # and state bytes grow no faster than the key-domain ratio
    # (state follows KEYS, never cumulative input).
    cdc10 = _guard(
        bench_cdc_pipeline,
        spark, sf_dir, n_files=n_files, replicate=10, key_domain=10000,
    )
    if "error" not in cdc and "error" not in cdc10:
        thr = cdc["rows_per_sec"] or 0
        thr10 = cdc10["rows_per_sec"] or 0
        scaling_ok = bool(
            cdc10["resumed_exactly_once"]
            and cdc10["state_bounded"]
            and thr10 >= 0.5 * thr
            and cdc10["state_bytes_final"]
            <= 10 * max(cdc["state_bytes_final"], 1) * 1.5
        )
    else:
        scaling_ok = False
    ssj = _guard(bench_stream_stream_join, spark, sf_dir)
    ssj_lat = _guard(bench_ss_join_outer_latency, spark, sf_dir)
    ivm = _guard(bench_ivm_view, spark, sf_dir, n_files=n_files)
    sess = _guard(bench_session_state, spark, sf_dir)
    http = _guard(bench_http_delivery, spark, sf_dir, n_files=n_files // 2)
    return {
        "cdc_pipeline": cdc,
        "cdc_pipeline_10x": cdc10,
        "stream_stream_join": ssj,
        "ss_join_outer_latency": ssj_lat,
        "ivm_view": ivm,
        "session_state": sess,
        "http_delivery": http,
        "checks": {
            "resumed_exactly_once": cdc.get("resumed_exactly_once", False),
            "state_bounded": cdc.get("state_bounded", False),
            "resumed_exactly_once_10x": cdc10.get(
                "resumed_exactly_once", False
            ),
            "state_bounded_10x": cdc10.get("state_bounded", False),
            "scaling_10x_ok": scaling_ok,
            "ivm_view_matches_batch": ivm.get("view_matches_batch", False),
            "http_delivery_complete": http.get("delivery_complete", False),
            "http_concurrent_replay_converged": http.get(
                "concurrent_replay_converged", False
            ),
        },
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import re

    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    n_files = int(os.environ.get("SPARK_GRAFT_STREAM_FILES", "16"))

    from mysql_cdc_to_http_spark.session import get_spark

    spark = get_spark(app_name="bench_stream")
    result = run(spark, sf_dir, n_files=n_files)
    print(
        json.dumps(
            {
                "metric": "stream_cdc_rows_per_sec",
                "value": result["cdc_pipeline"]["rows_per_sec"],
                "unit": "rows/s",
                "sf": sf,
                **result,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
