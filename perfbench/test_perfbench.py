"""Tests of the benchmark's own code: no Spark session is started.

Run: ``python3 -m pytest perfbench -q``
"""

from __future__ import annotations

import http.client
import json
import re

import pytest

import datagen
import loadgen
import run
import stats
import tracing
from common import ROOT, RssSampler

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as fh:
        return json.load(fh)


# -- generator ---------------------------------------------------------------


def test_events_deterministic_under_seed():
    assert loadgen.make_events(7, 500) == loadgen.make_events(7, 500)
    assert loadgen.make_events(7, 500) != loadgen.make_events(8, 500)


def test_events_balanced_and_monotone():
    events = loadgen.make_events(3, 1000, first_offset=11)
    assert [e["offset"] for e in events] == list(range(11, 1011))
    for table in loadgen.TABLES:
        assert sum(e["source"]["table"] == table for e in events) == 250
    for e in events:
        assert (e["before"] is None) == (e["op"] == "c")
        assert (e["after"] is None) == (e["op"] == "d")


def test_tables_deterministic_under_seed():
    a, b, c = datagen.tables(5), datagen.tables(5), datagen.tables(6)
    assert a.keys() == b.keys()
    assert all(a[k].equals(b[k]) for k in a)
    assert not a["orders"].equals(c["orders"])


def test_publisher_stamps_due_time_and_renames_whole(tmp_path):
    for d in ("data", "stage"):
        (tmp_path / d).mkdir()
    events = loadgen.make_events(1, 25)
    t0 = 1000.0  # long past: every tick is due at once
    pub = loadgen.Publisher(str(tmp_path), events, rate=10.0, tick=1.0, t0=t0)
    pub._run()
    files = sorted((tmp_path / "data").iterdir())
    assert [f.name for f in files] == ["0000000.json", "0000001.json", "0000002.json"]
    assert not list((tmp_path / "stage").iterdir())
    lines = [json.loads(x) for f in files for x in f.read_text().splitlines()]
    assert [e["offset"] for e in lines] == list(range(1, 26))
    assert [e["ts_ms"] for e in lines] == [int((t0 + i / 10.0) * 1000) for i in range(25)]
    assert [(n, due) for n, due, _ in pub.log] == [(10, 1001.0), (10, 1002.0), (5, 1003.0)]
    assert all(sent >= due for _, due, sent in pub.log)


# -- endpoint ----------------------------------------------------------------


def test_receipts_parse_every_line():
    r = loadgen.Receipts({"orders": "g1", "customer": "g2"})
    body = "\n".join(json.dumps({"source": {"table": t}, "offset": o})
                     for t, o in (("orders", 1), ("customer", 2), ("orders", 1)))
    assert r.record("/cdc/g1", body.encode(), 5.0)
    assert r.events == 3 and r.requests == 1 and r.dups == 1
    assert r.first == {"orders:1": (5.0, "g1"), "customer:2": (5.0, "g1")}
    assert r.misrouted == ["customer:2@g1"]
    assert not r.record("/cdc/g1", b"{not json", 6.0)


def test_endpoint_keep_alive_counts():
    receipts = loadgen.Receipts({"orders": "g1"})
    endpoint = loadgen.Endpoint(receipts)
    port = endpoint.start()
    try:
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=5)
        for offset in (1, 2):
            body = json.dumps({"source": {"table": "orders"}, "offset": offset})
            conn.request("POST", "/cdc/g1", body)
            resp = conn.getresponse()
            resp.read()
            assert resp.status == 200
        conn.request("POST", "/cdc/g1", "garbage")
        resp = conn.getresponse()
        resp.read()
        assert resp.status == 400
        conn.close()
    finally:
        endpoint.stop()
    assert receipts.connections == 1
    assert receipts.requests == 2 and receipts.non_2xx == 1
    assert sorted(receipts.first) == ["orders:1", "orders:2"]


# -- arithmetic --------------------------------------------------------------


def test_percentile():
    xs = [float(x) for x in range(1, 101)]
    assert stats.percentile(xs, 50) == pytest.approx(50.5)
    assert stats.percentile(xs, 99) == pytest.approx(99.01)
    assert stats.percentile(xs, 0) == 1.0 and stats.percentile(xs, 100) == 100.0
    assert stats.percentile([3.0], 99) == 3.0
    assert stats.percentile([], 50) == 0.0
    assert stats.median([5.0, 1.0, 3.0]) == 3.0


def test_latencies_and_delivered_frac():
    due = {"a": 10.0, "b": 11.0, "c": 12.0, "d": 13.0}
    first = {"a": 10.5, "b": 11.25, "c": 20.0}
    assert sorted(stats.latencies_ms(due, first)) == pytest.approx([250.0, 500.0, 8000.0])
    assert stats.delivered_frac(due, first, deadline=15.0) == 0.5
    assert stats.delivered_frac(due, first, deadline=20.0) == 0.75
    assert stats.delivered_frac({}, first, 1.0) == 0.0


def test_backlog_flat_when_keeping_up_and_growing_when_not():
    due = {str(i): i * 0.1 for i in range(1000)}  # 10 events/s for 100 s
    prompt = {k: t + 0.5 for k, t in due.items()}
    assert stats.backlog_growth(due, prompt, 0.0, 100.0) == pytest.approx(0.0, abs=0.1)
    half_rate = {k: t * 2 + 0.5 for k, t in due.items()}  # served at 5/s
    # backlog grows by 5 events per second: its mean over the second half
    # of the window exceeds the first half's by 5/s * 50 s = 250
    assert stats.backlog_growth(due, half_rate, 0.0, 100.0) == pytest.approx(250.0, rel=0.02)
    # by t = 50.05: 501 events due, 248 delivered
    assert stats.backlog_at(50.05, sorted(due.values()), sorted(half_rate.values())) == 253


def test_progress_layer_and_lag():
    progress = [
        {"timestamp": "2026-01-01T00:00:00.000Z", "numInputRows": 0,
         "durationMs": {"triggerExecution": 100}},
        {"timestamp": "2026-01-01T00:00:01.000Z", "numInputRows": 20,
         "durationMs": {"triggerExecution": 400, "queryPlanning": 10,
                        "walCommit": 20, "commitOffsets": 30,
                        "latestOffset": 5, "getBatch": 2}},
        {"timestamp": "2026-01-01T00:00:02.000Z", "numInputRows": 20,
         "durationMs": {"triggerExecution": 600, "queryPlanning": 30,
                        "walCommit": 20, "commitOffsets": 30,
                        "latestOffset": 5, "getBatch": 2}},
    ]
    layer = tracing.progress_layer(progress, [0.1, 0.2])
    assert layer["engine.batches"] == 2.0
    assert layer["engine.trigger_ms_p50"] == 500.0
    assert layer["engine.query_planning_ms_p50"] == 20.0
    assert layer["sources.http_sink.share_of_trigger"] == pytest.approx(0.3)
    assert layer["engine.busy_frac"] == pytest.approx(1.1 / 2.6)
    t = tracing._ts(progress[1])
    publish_log = [(10, 0.0, t - 0.5), (10, 0.0, t - 0.1), (10, 0.0, t + 0.5)]
    # two files out before the second trigger, none read yet
    assert tracing.lag_files_max(progress, publish_log, 10) == 2.0


# -- metric declarations -----------------------------------------------------


def test_benchmark_json_shape(spec):
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    names = [w["name"] for w in spec["workloads"]]
    assert tuple(names) == run.WORKLOADS
    metrics = spec["end_to_end"] + spec["per_layer"]
    all_names = names + [m["name"] for m in metrics]
    assert len(all_names) == len(set(all_names))
    assert all(NAME_RE.match(n) for n in all_names)
    assert all(UNIT_RE.match(m["unit"]) for m in metrics)
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in spec["workloads"])
    assert "setup_s" in {m["name"] for m in spec["end_to_end"]}


def test_computed_layer_metrics_are_declared(spec):
    declared = {m["name"] for m in spec["per_layer"]}
    produced = set(tracing.progress_layer([], []))
    produced |= set(tracing.spark_layer(
        dict.fromkeys(("jobs", "stages", "tasks", "task_cpu_s", "task_run_s",
                       "shuffle_write_mb", "spill_mb", "gc_s", "input_mb"), 0.0),
        1.0, 4,
    ))
    assert produced <= declared


def test_result_line_prints_every_declared_metric_and_no_other():
    e2e, layer = run.declared_metrics()
    rss = RssSampler()
    rss.peak_kb, rss.peak_python_kb, rss.peak_jvm_kb = 102400, 20480, 81920
    out = {"correct": True, "attempted": 3, "failed": 0,
           "e2e": dict.fromkeys(set(e2e) - {"peak_rss_mb"}, 1.5),
           "layer": {"engine.batches": 4.0}}
    line = run.result_line(out, rss, False, e2e, layer, tracing.Tracer(False))
    assert set(line["metrics"]) == set(e2e)
    assert line["metrics"]["peak_rss_mb"] == {"value": 100.0, "unit": e2e["peak_rss_mb"]}
    traced = run.result_line(out, rss, True, e2e, layer, tracing.Tracer(True))
    assert set(traced["metrics"]) == set(layer)
    assert traced["metrics"]["session.jvm_rss_peak_mb"]["value"] == 80.0
    assert traced["metrics"]["engine.batches"]["value"] == 4.0
    out["e2e"]["not_declared"] = 1.0
    with pytest.raises(ValueError):
        run.result_line(out, rss, False, e2e, layer, tracing.Tracer(False))
