"""End-to-end reference-pipeline composition (SURVEY §3.2 dataflow):
source → action filter → group routing → envelope → queue + HTTP, the
reference's double-delivery topology, plus the engine's exactly-once
alternative."""

from __future__ import annotations

import http.server
import threading

import pytest

from pyspark.sql import functions as F

from mysql_cdc_to_http_spark.operators.envelope import action_filter, serialize
from mysql_cdc_to_http_spark.operators.routing import assign_group
from mysql_cdc_to_http_spark.queries.cdc import _flat_events
from mysql_cdc_to_http_spark.sources.http_sink import http_batch_poster
from mysql_cdc_to_http_spark.sources.queue import dequeue_batch, enqueue_batch


class _Counter(http.server.BaseHTTPRequestHandler):
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
def counter_server():
    _Counter.hits = []
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _Counter)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{srv.server_port}", _Counter
    srv.shutdown()


def test_reference_double_delivery_topology(spark, sf_dir, tmp_path, counter_server):
    """Compat mode reproduces the reference's 2× delivery: OnRow both
    POSTs directly and enqueues; the worker re-POSTs (main.go:107+411).
    Every surviving event is seen exactly twice per endpoint."""
    base, handler = counter_server
    ev = assign_group(
        action_filter(_flat_events(spark, sf_dir)), table_col="tbl"
    ).filter(F.col("offset_id") < 120)
    batch = ev.select(
        "grp",
        serialize(
            F.struct(
                F.struct(F.col("tbl").alias("table")).alias("source"),
                F.col("op"),
                F.col("offset_id").alias("offset"),
            )
        ).alias("payload"),
        F.concat_ws(":", "tbl", "offset_id").alias("idem_key"),
    )
    n_events = batch.count()
    poster = http_batch_poster(base, str(tmp_path / "dlq"))

    # delivery path A: direct POST (main.go:105-113)
    poster(batch, epoch_id=0)
    # delivery path B: enqueue, then the worker drains and re-POSTs
    qdir = str(tmp_path / "queue")
    enqueue_batch(batch.select(F.to_json(F.struct("grp", "payload", "idem_key")).alias("value")), qdir)
    drained = dequeue_batch(spark, qdir).select(
        F.get_json_object("value", "$.grp").alias("grp"),
        F.get_json_object("value", "$.payload").alias("payload"),
        F.get_json_object("value", "$.idem_key").alias("idem_key"),
    )
    poster(drained, epoch_id=1)

    assert len(handler.hits) == 2 * n_events
    # every idempotency key seen exactly twice — the downstream dedup
    # handle the reference never provides
    from collections import Counter

    counts = Counter(k for _, k in handler.hits)
    assert set(counts.values()) == {2}


def test_orc_round_trip(spark, sf_dir, tmp_path):
    """ORC is a first-class interchange format (Spark-native, no extra
    jars): a table written to ORC reads back byte-identical."""
    from mysql_cdc_to_http_spark.catalog import load_table

    region = load_table(spark, sf_dir, "region")
    path = str(tmp_path / "region_orc")
    region.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    assert back.schema == region.schema
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, region.collect())
    )
