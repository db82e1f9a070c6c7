"""Full-engine orchestration test: run_pipeline end-to-end against the
CDC feed and a local echo server, in both default (single-path) and
reference-compat (double-delivery) topologies."""

from __future__ import annotations

import http.server
import os
import threading

from collections import Counter

import pytest

from mysql_cdc_to_http_spark.config import EngineConfig
from mysql_cdc_to_http_spark.engine import run_pipeline
from mysql_cdc_to_http_spark.sources.cdc import write_event_files


class _Sink(http.server.BaseHTTPRequestHandler):
    hits: list[tuple[str, str]] = []

    def do_POST(self):  # noqa: N802
        self.rfile.read(int(self.headers.get("Content-Length", 0)))
        type(self).hits.append((self.path, self.headers.get("Idempotency-Key", "")))
        self.send_response(200)
        self.end_headers()
        self.wfile.write(b"{}")

    def log_message(self, *a):
        pass


@pytest.fixture()
def sink_server():
    _Sink.hits = []
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _Sink)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{srv.server_port}", _Sink
    srv.shutdown()


def _expected_grouped_events(spark, sf_dir):
    from pyspark.sql import functions as F

    from mysql_cdc_to_http_spark.queries.cdc import _flat_events

    return (
        _flat_events(spark, sf_dir)
        .filter(F.col("tbl").isin("orders", "lineitem", "customer", "supplier"))
        .count()
    )


def test_engine_single_path(spark, sf_dir, tmp_path, sink_server):
    base, sink = sink_server
    cfg = EngineConfig(
        post_url=base, queue_dir=str(tmp_path / "q"), table_groups_file=None
    )
    events_dir = write_event_files(spark, sf_dir)
    handles = run_pipeline(spark, cfg, events_dir, str(tmp_path / "w"))
    handles.process_all_available()
    handles.stop()
    n_expected = _expected_grouped_events(spark, sf_dir)
    assert len(sink.hits) == n_expected
    # routing: only configured group paths, keys unique (exactly-once)
    assert {p for p, _ in sink.hits} <= {"/grp_sales", "/grp_parties"}
    assert set(Counter(k for _, k in sink.hits).values()) == {1}


def test_engine_compat_double_delivery(spark, sf_dir, tmp_path, sink_server):
    base, sink = sink_server
    cfg = EngineConfig(
        post_url=base, queue_dir=str(tmp_path / "q"), table_groups_file=None
    )
    events_dir = write_event_files(spark, sf_dir)
    handles = run_pipeline(
        spark, cfg, events_dir, str(tmp_path / "w"), compat_double_delivery=True
    )
    handles.process_all_available()
    # drain the worker after the writer has produced files
    handles.process_all_available()
    handles.stop()
    n_expected = _expected_grouped_events(spark, sf_dir)
    counts = Counter(k for _, k in sink.hits)
    assert len(counts) == n_expected
    # reference semantics: every event delivered twice (direct + worker)
    assert set(counts.values()) == {2}


def test_engine_streaming_observed_metrics(spark, sf_dir, tmp_path, sink_server):
    """The consume-point counters (reference: per-event log in the canal
    loop) surface in StreamingQueryProgress.observedMetrics, summing to
    the full feed BEFORE the action filter (dropped deletes counted)."""
    from pyspark.sql import functions as F

    from mysql_cdc_to_http_spark.queries.cdc import _flat_events

    base, sink = sink_server
    cfg = EngineConfig(
        post_url=base, queue_dir=str(tmp_path / "q"), table_groups_file=None
    )
    events_dir = write_event_files(spark, sf_dir)
    handles = run_pipeline(spark, cfg, events_dir, str(tmp_path / "w"))
    handles.process_all_available()
    totals = {"n_rows": 0, "n_c": 0, "n_u": 0, "n_d": 0}
    for prog in handles.direct.recentProgress:
        m = prog.observedMetrics.get("consume_metrics")
        if m is not None:
            for k in totals:
                totals[k] += m[k]
    handles.stop()
    flat = _flat_events(spark, sf_dir)
    expected = {
        r.op: r.n
        for r in flat.groupBy("op").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert totals["n_rows"] == sum(expected.values())
    for op in ("c", "u", "d"):
        assert totals[f"n_{op}"] == expected.get(op, 0)


class _FlakySink(http.server.BaseHTTPRequestHandler):
    """Rejects every POST to /poison with 500 until ``healed`` flips."""

    hits: list[tuple[str, str]] = []
    healed = False

    def do_POST(self):  # noqa: N802
        self.rfile.read(int(self.headers.get("Content-Length", 0)))
        if self.path.endswith("/poison") and not type(self).healed:
            self.send_response(500)
            self.end_headers()
            return
        type(self).hits.append(
            (self.path, self.headers.get("Idempotency-Key", ""))
        )
        self.send_response(200)
        self.end_headers()
        self.wfile.write(b"{}")

    def log_message(self, *a):
        pass


def test_http_dlq_quarantines_poison_and_replays(spark, tmp_path):
    """Poisoned-endpoint events dead-letter instead of stalling the
    batch; healthy events deliver; replay after heal converges to zero
    failures with the ORIGINAL idempotency keys."""
    from mysql_cdc_to_http_spark.sources.http_sink import (
        http_batch_poster,
        replay_dlq,
    )

    _FlakySink.hits = []
    _FlakySink.healed = False
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _FlakySink)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        base = f"http://127.0.0.1:{srv.server_port}"
        rows = [
            ("ok", '{"id": %d}' % i, f"k{i}") for i in range(6)
        ] + [("poison", '{"id": %d}' % i, f"p{i}") for i in range(3)]
        batch = spark.createDataFrame(
            rows, "grp string, payload string, idem_key string"
        )
        dlq = str(tmp_path / "dlq")
        poster = http_batch_poster(base, dlq, retries=1)
        poster(batch, epoch_id=0)
        delivered = {k for _, k in _FlakySink.hits}
        assert delivered == {f"k{i}" for i in range(6)}
        dead = spark.read.parquet(f"{dlq}/epoch=0").collect()
        assert sorted(r["idem_key"] for r in dead) == ["p0", "p1", "p2"]
        assert all("500" in r["error"] or "Error" in r["error"] for r in dead)
        # replay while still poisoned: all 3 fail again, nothing lost
        assert replay_dlq(spark, dlq, base, retries=0) == 3
        # heal, replay: converges, original keys preserved
        _FlakySink.healed = True
        assert replay_dlq(spark, dlq, base, retries=0) == 0
        assert {k for p, k in _FlakySink.hits if p.endswith("/poison")} == {
            "p0", "p1", "p2",
        }
        # idempotent re-run of the SAME epoch overwrites, not duplicates
        _FlakySink.healed = False
        poster(batch, epoch_id=0)
        assert spark.read.parquet(f"{dlq}/epoch=0").count() == 3
        # a re-run with no failures removes the epoch's stale dead letters
        _FlakySink.healed = True
        poster(batch, epoch_id=0)
        assert not os.path.exists(f"{dlq}/epoch=0")
    finally:
        srv.shutdown()


def test_replay_dlq_prunes_delivered_rows(spark, tmp_path):
    """ADVICE r6: replays must CONVERGE — after a successful replay the
    epoch directory holds only still-failing rows (drained epochs are
    deleted), so a delivered event is never re-POSTed by the next
    replay."""
    from mysql_cdc_to_http_spark.sources.http_sink import (
        http_batch_poster,
        replay_dlq,
    )

    _FlakySink.hits = []
    _FlakySink.healed = False
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _FlakySink)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        base = f"http://127.0.0.1:{srv.server_port}"
        batch = spark.createDataFrame(
            [("poison", '{"id": %d}' % i, f"p{i}") for i in range(3)],
            "grp string, payload string, idem_key string",
        )
        dlq = str(tmp_path / "dlq")
        http_batch_poster(base, dlq, retries=0)(batch, epoch_id=5)
        assert spark.read.parquet(f"{dlq}/epoch=5").count() == 3
        # still poisoned: all fail, epoch rewritten with attempts bumped
        assert replay_dlq(spark, dlq, base, retries=0) == 3
        rows = spark.read.parquet(f"{dlq}/epoch=5").collect()
        assert len(rows) == 3 and all(r["attempts"] >= 2 for r in rows)
        # heal: replay drains and DELETES the epoch dir
        _FlakySink.healed = True
        assert replay_dlq(spark, dlq, base, retries=0) == 0
        import glob

        assert glob.glob(f"{dlq}/epoch=*") == []
        n_posts_after_drain = len(_FlakySink.hits)
        # a further replay is a no-op: nothing re-POSTs
        assert replay_dlq(spark, dlq, base, retries=0) == 0
        assert len(_FlakySink.hits) == n_posts_after_drain
    finally:
        srv.shutdown()


class _PermanentReject(http.server.BaseHTTPRequestHandler):
    """404s every POST; counts attempts so retry behavior is observable."""

    attempts = 0
    code = 404

    def do_POST(self):  # noqa: N802
        self.rfile.read(int(self.headers.get("Content-Length", 0)))
        type(self).attempts += 1
        self.send_response(type(self).code)
        self.end_headers()

    def log_message(self, *a):
        pass


@pytest.mark.parametrize("code,attempts", [(404, 1), (500, 3), (429, 3)])
def test_keepalive_poster_does_not_retry_permanent_4xx(code, attempts):
    """Permanent 4xx (here 404) fails IMMEDIATELY — one attempt, no
    backoff stall — while 5xx and the 429 throttle consume the whole
    retry budget (1 + retries attempts)."""
    import urllib.error

    from mysql_cdc_to_http_spark.sources.http_sink import _KeepAlivePoster

    _PermanentReject.attempts = 0
    _PermanentReject.code = code
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _PermanentReject)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    poster = _KeepAlivePoster(timeout_s=2)
    try:
        url = f"http://127.0.0.1:{srv.server_port}/x"
        with pytest.raises(urllib.error.HTTPError):
            poster.post(url, b"{}", "k1", retries=2, backoff_s=0.01)
        assert _PermanentReject.attempts == attempts
    finally:
        poster.close()
        srv.shutdown()


def test_replay_dlq_ignores_and_sweeps_stale_tmp(spark, tmp_path):
    """ADVICE r7: a crash between the tmp write and the swap must not
    double-POST — the scratch dir is named outside the 'epoch=*'
    discovery glob and is swept on the next replay, so only the intact
    original epoch is replayed and no nested __replay_tmp dirs form."""
    import glob
    import shutil

    from mysql_cdc_to_http_spark.sources.http_sink import (
        http_batch_poster,
        replay_dlq,
    )

    _FlakySink.hits = []
    _FlakySink.healed = False
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _FlakySink)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        base = f"http://127.0.0.1:{srv.server_port}"
        batch = spark.createDataFrame(
            [("poison", '{"id": %d}' % i, f"p{i}") for i in range(3)],
            "grp string, payload string, idem_key string",
        )
        dlq = str(tmp_path / "dlq")
        http_batch_poster(base, dlq, retries=0)(batch, epoch_id=2)
        # simulate the crash window: a stale scratch dir with the SAME
        # rows sits next to the intact epoch dir
        shutil.copytree(f"{dlq}/epoch=2", f"{dlq}/_replay_tmp_epoch=2")
        _FlakySink.healed = True
        assert replay_dlq(spark, dlq, base, retries=0) == 0
        # each key POSTed exactly once — the stale tmp was NOT replayed
        keys = [k for p, k in _FlakySink.hits if p.endswith("/poison")]
        assert sorted(keys) == ["p0", "p1", "p2"]
        # scratch swept, epoch drained, nothing nested left behind
        assert glob.glob(f"{dlq}/*replay_tmp*") == []
        assert glob.glob(f"{dlq}/epoch=*") == []
    finally:
        srv.shutdown()


def test_replay_dlq_promotes_orphan_tmp(spark, tmp_path):
    """ADVICE r8 (medium): a crash BETWEEN rmtree(epoch) and the
    os.replace swap leaves the scratch dir as the ONLY copy of the
    still-failing rows. The sweep must PROMOTE it back to its epoch
    name and replay it — deleting it would lose dead-lettered events,
    regressing the DLQ from at-least-once to lossy."""
    import glob
    import os
    import shutil

    from mysql_cdc_to_http_spark.sources.http_sink import (
        http_batch_poster,
        replay_dlq,
    )

    _FlakySink.hits = []
    _FlakySink.healed = False
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _FlakySink)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        base = f"http://127.0.0.1:{srv.server_port}"
        batch = spark.createDataFrame(
            [("poison", '{"id": %d}' % i, f"p{i}") for i in range(3)],
            "grp string, payload string, idem_key string",
        )
        dlq = str(tmp_path / "dlq")
        http_batch_poster(base, dlq, retries=0)(batch, epoch_id=7)
        # simulate the post-rmtree crash: epoch dir GONE, scratch is the
        # sole survivor
        shutil.move(f"{dlq}/epoch=7", f"{dlq}/_replay_tmp_epoch=7")
        assert not os.path.isdir(f"{dlq}/epoch=7")
        # endpoint still poisoned: the promoted rows must fail (=3), not
        # vanish (=0)
        assert replay_dlq(spark, dlq, base, retries=0) == 3
        assert glob.glob(f"{dlq}/*replay_tmp*") == []
        assert spark.read.parquet(f"{dlq}/epoch=7").count() == 3
        # heal: the recovered rows deliver with their original keys
        _FlakySink.healed = True
        assert replay_dlq(spark, dlq, base, retries=0) == 0
        keys = [k for p, k in _FlakySink.hits if p.endswith("/poison")]
        assert sorted(keys) == ["p0", "p1", "p2"]
        assert glob.glob(f"{dlq}/epoch=*") == []
    finally:
        srv.shutdown()


def test_keepalive_poster_survives_surprise_connection_close():
    """Round 8: the keep-alive sink must treat a server-side close of a
    REUSED connection as a connection event, not an endpoint failure —
    one free retry on a fresh connection, no caller budget consumed
    (retries=0 here), idempotency key re-sent unchanged."""
    from mysql_cdc_to_http_spark.sources.http_sink import _KeepAlivePoster

    class _SurpriseClose(http.server.BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"
        keys: list = []

        def do_POST(self):  # noqa: N802
            self.rfile.read(int(self.headers.get("Content-Length", 0)))
            type(self).keys.append(self.headers.get("Idempotency-Key", ""))
            body = b"{}"
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            # close WITHOUT a Connection: close header — the client
            # believes the connection is still reusable
            self.close_connection = True

        def log_message(self, *a):
            pass

    _SurpriseClose.keys = []
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _SurpriseClose)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_port}/g"
        poster = _KeepAlivePoster(timeout_s=2)
        for i in range(5):  # every request after the first rides a
            poster.post(url, b"{}", f"k{i}", retries=0, backoff_s=0.01)
        poster.close()
        assert _SurpriseClose.keys == [f"k{i}" for i in range(5)]
    finally:
        srv.shutdown()


def test_replay_dlq_skips_uncommitted_epoch(spark, tmp_path):
    """r8 verdict #8 guard: replay only touches COMMITTED epoch dirs
    (parquet _SUCCESS present). An epoch mid-write by a racing poster
    must be invisible — without the gate, replay would read the partial
    dir and rewrite the epoch with only the rows it saw, losing
    whatever the poster committed after the read."""
    import glob
    import os

    from mysql_cdc_to_http_spark.sources.http_sink import (
        http_batch_poster,
        replay_dlq,
    )

    _FlakySink.hits = []
    _FlakySink.healed = True
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _FlakySink)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        base = f"http://127.0.0.1:{srv.server_port}"
        batch = spark.createDataFrame(
            [("poison", '{"id": 1}', "k1")],
            "grp string, payload string, idem_key string",
        )
        dlq = str(tmp_path / "dlq")
        _FlakySink.healed = False
        http_batch_poster(base, dlq, retries=0)(batch, epoch_id=3)
        # simulate a mid-write epoch: committed data, _SUCCESS removed
        os.remove(f"{dlq}/epoch=3/_SUCCESS")
        _FlakySink.healed = True
        assert replay_dlq(spark, dlq, base, retries=0) == 0  # skipped
        assert _FlakySink.hits == []  # nothing POSTed
        assert glob.glob(f"{dlq}/epoch=3") != []  # left untouched
        # once the epoch "commits", the next cycle replays it
        open(f"{dlq}/epoch=3/_SUCCESS", "w").close()
        assert replay_dlq(spark, dlq, base, retries=0) == 0
        assert [k for _, k in _FlakySink.hits] == ["k1"]
        assert glob.glob(f"{dlq}/epoch=*") == []
    finally:
        srv.shutdown()


def _write_one_file_batches(
    events_dir, n_files: int, per_file: int, first: int = 0
) -> list[str]:
    """``n_files`` envelope files under ``events_dir/data``, numbered from
    ``first``; returns the idempotency keys DEFAULT_GROUPS routes."""
    import json

    tables = ["orders", "customer", "widgets"]
    os.makedirs(os.path.join(events_dir, "data"), exist_ok=True)
    routed = []
    for k in range(first, first + n_files):
        with open(os.path.join(events_dir, "data", f"{k:03d}.json"), "w") as fh:
            for i in range(per_file):
                table, offset = tables[i % len(tables)], k * per_file + i
                if table != "widgets":
                    routed.append(f"{table}:{offset}")
                fh.write(json.dumps({
                    "after": {"o_orderkey": i}, "source": {"table": table},
                    "op": "c", "offset": offset, "ts_ms": 0,
                }) + "\n")
    return routed


def test_engine_one_spark_job_per_batch(spark, tmp_path, sink_server):
    """Each non-empty micro-batch runs exactly one Spark job: the sink's
    POST job. Routing adds none (no broadcast of a routing table), and a
    healthy batch writes no dead letters."""
    base, sink = sink_server
    n_files = 3
    events_dir = str(tmp_path / "events")
    routed = _write_one_file_batches(events_dir, n_files, per_file=6)
    cfg = EngineConfig(
        post_url=base, table_groups_file=None, max_files_per_trigger=1
    )
    work_dir = tmp_path / "w"
    handles = run_pipeline(spark, cfg, events_dir, str(work_dir))
    handles.process_all_available()
    handles.stop()
    batches = [p for p in handles.direct.recentProgress if p.numInputRows]
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(
        str(handles.direct.runId)
    )
    assert len(batches) == n_files
    assert len(jobs) == n_files
    assert len(sink.hits) == len(routed)
    assert not (work_dir / "dlq").exists()


class _FailTwice(http.server.BaseHTTPRequestHandler):
    """500 on the first two POSTs of each idempotency key, then 200."""

    attempts: Counter = Counter()

    def do_POST(self):  # noqa: N802
        self.rfile.read(int(self.headers.get("Content-Length", 0)))
        key = self.headers.get("Idempotency-Key", "")
        type(self).attempts[key] += 1
        self.send_response(500 if type(self).attempts[key] <= 2 else 200)
        self.end_headers()

    def log_message(self, *a):
        pass


def _dead_letters(spark, dlq_dir) -> list[str]:
    """Idempotency keys under ``dlq_dir/epoch=*`` (empty if none)."""
    import glob

    if not glob.glob(f"{dlq_dir}/epoch=*"):
        return []
    return [r.idem_key for r in spark.read.parquet(f"{dlq_dir}/epoch=*").collect()]


@pytest.mark.parametrize("retries,delivered", [(1, False), (2, True)])
def test_engine_honours_http_retries(spark, tmp_path, retries, delivered):
    """``EngineConfig.http_retries`` (HTTP_RETRIES) is each row's retry
    budget in run_pipeline: an endpoint that fails twice needs two. An
    event that exhausts its budget is dead-lettered under
    ``<work_dir>/dlq`` and the query keeps running."""
    _FailTwice.attempts = Counter()
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _FailTwice)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        events_dir = str(tmp_path / "events")
        routed = _write_one_file_batches(events_dir, 1, per_file=1)
        cfg = EngineConfig(
            post_url=f"http://127.0.0.1:{srv.server_port}",
            table_groups_file=None,
            http_retries=retries,
        )
        work_dir = tmp_path / "w"
        handles = run_pipeline(spark, cfg, events_dir, str(work_dir))
        try:
            handles.process_all_available()
            assert handles.direct.isActive
        finally:
            handles.stop()
        assert handles.direct.exception() is None
        assert list(_FailTwice.attempts.values()) == [1 + retries]
        dead = _dead_letters(spark, work_dir / "dlq")
        assert dead == ([] if delivered else routed)
    finally:
        srv.shutdown()


class _PoisonParties(http.server.BaseHTTPRequestHandler):
    """Rejects every POST to /grp_parties with 500 until ``healed``."""

    hits: list[tuple[str, str]] = []
    healed = False

    def do_POST(self):  # noqa: N802
        self.rfile.read(int(self.headers.get("Content-Length", 0)))
        if self.path == "/grp_parties" and not type(self).healed:
            self.send_response(500)
            self.end_headers()
            return
        type(self).hits.append(
            (self.path, self.headers.get("Idempotency-Key", ""))
        )
        self.send_response(200)
        self.end_headers()

    def log_message(self, *a):
        pass


def test_engine_dead_letters_poison_and_restarts(spark, tmp_path):
    """The shipped pipeline survives a poisoned group endpoint and a
    restart with exactly-once effect: healthy events arrive once, poison
    events wait in ``<work_dir>/dlq``, a restart from the checkpoint
    re-sends nothing, and a healed replay delivers every routed event."""
    from mysql_cdc_to_http_spark.sources.http_sink import replay_dlq

    _PoisonParties.hits = []
    _PoisonParties.healed = False
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _PoisonParties)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        base = f"http://127.0.0.1:{srv.server_port}"
        events_dir = str(tmp_path / "events")
        work_dir = tmp_path / "w"
        dlq = work_dir / "dlq"
        cfg = EngineConfig(
            post_url=base,
            table_groups_file=None,
            max_files_per_trigger=1,
            http_retries=0,
        )

        def _run_and_check(routed):
            handles = run_pipeline(spark, cfg, events_dir, str(work_dir))
            try:
                handles.process_all_available()
                assert handles.direct.isActive
            finally:
                handles.stop()
            assert handles.direct.exception() is None
            healthy = [k for k in routed if k.startswith("orders:")]
            poison = [k for k in routed if k.startswith("customer:")]
            counts = Counter(k for _, k in _PoisonParties.hits)
            assert sorted(counts) == sorted(healthy)
            assert set(counts.values()) == {1}
            assert sorted(_dead_letters(spark, dlq)) == sorted(poison)

        routed = _write_one_file_batches(events_dir, 3, per_file=6)
        _run_and_check(routed)
        routed += _write_one_file_batches(events_dir, 2, per_file=6, first=3)
        _run_and_check(routed)

        _PoisonParties.healed = True
        assert replay_dlq(spark, str(dlq), base, retries=0) == 0
        assert sorted(k for _, k in _PoisonParties.hits) == sorted(routed)
        assert _dead_letters(spark, dlq) == []
    finally:
        srv.shutdown()


def _java_children(pid: int) -> list[int]:
    """Pids of ``java`` processes whose parent is ``pid``."""
    out = []
    for entry in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        if comm == "java" and ppid == pid:
            out.append(int(entry))
    return out


def _alive(pid: int) -> bool:
    """Running and not a zombie (an exited child its new parent has not
    reaped yet has stopped all the same)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def test_cli_pipeline_stops_cleanly_on_sigterm(tmp_path, sink_server):
    """SIGTERM to ``python -m mysql_cdc_to_http_spark pipeline`` after the
    first committed micro-batch: the CLI stops its queries and Spark and
    exits 0 (not 143), and its driver JVM does not outlive it."""
    import signal
    import subprocess
    import sys
    import time

    base, sink = sink_server
    events_dir, work_dir = str(tmp_path / "events"), str(tmp_path / "w")
    _write_one_file_batches(events_dir, 3, per_file=6)
    env = dict(os.environ, POST_URL=base, MAX_FILES_PER_TRIGGER="1",
               SPARK_GRAFT_CPUS="1", SPARK_DRIVER_MEMORY="1g")
    env.pop("TABLE_GROUPS_FILE", None)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    log = open(tmp_path / "cli.log", "w")
    proc = subprocess.Popen(
        [sys.executable, "-m", "mysql_cdc_to_http_spark", "pipeline",
         "--events-dir", events_dir, "--work-dir", work_dir],
        cwd=repo, env=env, stdout=log, stderr=subprocess.STDOUT,
        start_new_session=True,
    )
    try:
        first_commit = os.path.join(work_dir, "ckpt_direct", "commits", "0")
        deadline = time.monotonic() + 180
        while not os.path.exists(first_commit):
            assert proc.poll() is None, (tmp_path / "cli.log").read_text()[-2000:]
            assert time.monotonic() < deadline, "no micro-batch committed"
            time.sleep(0.2)
        jvms = _java_children(proc.pid)
        assert jvms, "the CLI runs no driver JVM"
        proc.send_signal(signal.SIGTERM)
        assert proc.wait(timeout=60) == 0, (tmp_path / "cli.log").read_text()[-2000:]
        deadline = time.monotonic() + 30
        while any(map(_alive, jvms)) and time.monotonic() < deadline:
            time.sleep(0.2)
        assert not any(map(_alive, jvms)), f"JVM outlived the CLI: {jvms}"
        assert sink.hits
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        log.close()
