"""Streaming semantics tests (SURVEY §5.2 #3): latest-state merge under
replay, queue chained delivery, HTTP sink against a local echo server
(the logger/logger.go analog), checkpointed resume."""

from __future__ import annotations

import http.server
import json
import os
import threading

import pytest

from pyspark.sql import functions as F

from mysql_cdc_to_http_spark.sources.cdc import (
    stream_change_events,
    write_event_files,
)
from mysql_cdc_to_http_spark.sources.http_sink import http_batch_poster
from mysql_cdc_to_http_spark.sources.queue import (
    dequeue_stream,
    enqueue_batch,
)
from mysql_cdc_to_http_spark.streaming.latest_state import (
    merge_batch_into_state,
    read_state,
)


def test_latest_state_stream_merge_and_replay(spark, sf_dir, tmp_path):
    """Stream the CDC feed file-by-file into the state store; the final
    snapshot must equal the batch latest_state, and re-merging an old
    batch (replay) must not change state (idempotence)."""
    events_dir = write_event_files(spark, sf_dir)
    changes = stream_change_events(spark, events_dir).select(
        F.col("source.table").alias("tbl"),
        (F.col("offset") % 100).alias("pk"),
        "op",
        "offset",
        F.col("after.o_totalprice").alias("price"),
    )
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    q = (
        changes.writeStream.foreachBatch(
            lambda batch, _epoch: merge_batch_into_state(
                spark, batch, state_dir, ["tbl", "pk"], "offset"
            )
        )
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .start()
    )
    q.processAllAvailable()
    q.stop()

    snap = read_state(spark, state_dir)
    n1 = snap.count()
    assert n1 > 0

    # batch reference result
    from mysql_cdc_to_http_spark.queries.cdc import _flat_events
    from mysql_cdc_to_http_spark.streaming.latest_state import latest_state

    ev = _flat_events(spark, sf_dir).select(
        "tbl",
        (F.col("offset_id") % 100).alias("pk"),
        "op",
        F.col("offset_id").alias("offset"),
        F.col("after.o_totalprice").alias("price"),
    )
    expected = latest_state(ev, ["tbl", "pk"], offset_col="offset")
    got = {(r.tbl, r.pk): (r.offset, r.price) for r in snap.collect()}
    want = {(r.tbl, r.pk): (r.offset, r.price) for r in expected.collect()}
    assert got == want

    # replay an arbitrary early slice — state must be unchanged
    replay = ev.filter(F.col("offset") < 100)
    merge_batch_into_state(spark, replay, state_dir, ["tbl", "pk"], "offset")
    got2 = {
        (r.tbl, r.pk): (r.offset, r.price)
        for r in read_state(spark, state_dir).collect()
    }
    assert got2 == want
    # the swap must not leak its tmp dir (one per micro-batch otherwise)
    import os

    assert not os.path.exists(state_dir + "__tmp")


def test_checkpoint_resume(spark, sf_dir, tmp_path):
    """Stop a stream mid-feed, restart with the same checkpoint — every
    event must be delivered exactly once overall (R14/R15 analog)."""
    events_dir = write_event_files(spark, sf_dir)
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def start():
        return (
            stream_change_events(spark, events_dir)
            .selectExpr("offset")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    q = start()
    q.processAllAvailable()  # first run consumes all 8 files
    q.stop()
    q2 = start()  # resume: checkpoint says nothing new
    q2.processAllAvailable()
    q2.stop()
    total = spark.read.parquet(out_dir).count()
    distinct = spark.read.parquet(out_dir).select("offset").distinct().count()
    assert total == distinct  # no double delivery across restart


def test_queue_chained_delivery(spark, tmp_path):
    """R11→R13: batch-enqueue payloads, then a streaming worker drains the
    queue into a parquet 'delivery log'; counts survive the hop."""
    qdir = str(tmp_path / "queue")
    payloads = spark.range(50).select(
        F.to_json(
            F.struct(
                F.struct(F.lit("orders").alias("table")).alias("source"),
                F.col("id").alias("offset"),
            )
        ).alias("value")
    )
    enqueue_batch(payloads, qdir)
    out = str(tmp_path / "delivered")
    worker = (
        dequeue_stream(spark, qdir)
        .select(F.get_json_object("value", "$.offset").cast("long").alias("offset"))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "wckpt"))
        .outputMode("append")
        .start()
    )
    worker.processAllAvailable()
    worker.stop()
    got = spark.read.parquet(out)
    assert got.count() == 50
    assert got.agg(F.min("offset"), F.max("offset")).collect()[0] == (0, 49)


class _EchoHandler(http.server.BaseHTTPRequestHandler):
    records: list[tuple[str, str, dict]] = []
    fail_first_for: set[str] = set()

    def do_POST(self):  # noqa: N802
        body = self.rfile.read(int(self.headers["Content-Length"]))
        key = self.headers.get("Idempotency-Key", "")
        if key in self.fail_first_for:
            self.fail_first_for.discard(key)
            self.send_response(500)
            self.end_headers()
            return
        type(self).records.append((self.path, key, json.loads(body)))
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.end_headers()
        self.wfile.write(b'{"status": "ok"}')

    def log_message(self, *a):  # silence
        pass


@pytest.fixture()
def echo_server():
    _EchoHandler.records = []
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _EchoHandler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}", _EchoHandler
    srv.shutdown()


def test_http_sink_routing_and_retry(spark, echo_server, tmp_path):
    """R12: per-group URL routing, idempotency keys, retry on transient
    500 (the reference would drop the event; the engine redelivers)."""
    base, handler = echo_server
    df = spark.createDataFrame(
        [
            ("grp_sales", '{"k": 1}', "orders:1"),
            ("grp_sales", '{"k": 2}', "orders:2"),
            ("grp_parties", '{"k": 3}', "customer:3"),
        ],
        "grp string, payload string, idem_key string",
    )
    handler.fail_first_for = {"orders:2"}  # transient failure, then ok
    poster = http_batch_poster(base, str(tmp_path / "dlq"))
    poster(df, epoch_id=0)
    paths = sorted(p for p, _, _ in handler.records)
    assert paths == ["/grp_parties", "/grp_sales", "/grp_sales"]
    keys = {k for _, k, _ in handler.records}
    assert keys == {"orders:1", "orders:2", "customer:3"}


def test_watermark_drops_late_events(spark, tmp_path):
    """An event arriving BEHIND the watermark is discarded: its window
    was already finalized and append-mode must not re-emit or grow it.
    (The oracle-checked q_stream_watermark replay is ts-ordered, so this
    hand-built out-of-order feed is the only place the drop fires.)"""
    import datetime as dt

    from mysql_cdc_to_http_spark.streaming.windows import tumbling_counts

    data_dir = str(tmp_path / "late_data")
    schema = "ts timestamp, event_type string, value double"

    def _write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(data_dir)

    d = dt.datetime
    # batch 1: two events in the 10:00 window, then 12:00 pushes the
    # watermark to 11:50 which closes (emits) 10:00-10:05
    _write(
        [
            (d(2024, 1, 1, 10, 0, 30), "a", 1.0),
            (d(2024, 1, 1, 10, 1, 0), "a", 1.0),
            (d(2024, 1, 1, 12, 0, 0), "a", 1.0),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(data_dir)
    )
    agg = tumbling_counts(stream, watermark="10 minutes")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("mem_late_drop")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: 10:02 is 108 min behind the 11:50 watermark → dropped;
        # 13:00 advances the watermark past 12:05 closing the 12:00 window
        _write(
            [
                (d(2024, 1, 1, 10, 2, 0), "a", 1.0),
                (d(2024, 1, 1, 13, 0, 0), "a", 1.0),
            ]
        )
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
    out = {
        (r["win_start"], r["n"])
        for r in spark.table("mem_late_drop").collect()
    }
    # exactly ONE emission of the 10:00 window, with the late event absent
    w10 = [(w, n) for w, n in out if w == d(2024, 1, 1, 10, 0, 0)]
    assert w10 == [(d(2024, 1, 1, 10, 0, 0), 2)], out
    assert (d(2024, 1, 1, 12, 0, 0), 1) in out, out


def test_event_deltas_honor_op_codes(spark):
    """A delete whose envelope still carries an after-image (tombstone
    dialects) must not count the row back in; an insert carrying a
    spurious before-image must not subtract."""
    from mysql_cdc_to_http_spark.streaming.incremental_agg import (
        delta_aggregate,
        event_deltas,
    )

    from decimal import Decimal

    img = "struct<k:bigint,v:decimal(15,3),s:string>"
    ten = Decimal("10.000")
    rows = spark.createDataFrame(
        [("c", None, (1, ten, "a")), ("d", (1, ten, "a"), (1, ten, "a"))],
        f"op string, before {img}, after {img}",
    )
    out = {
        r["grp"]: (r["n"], float(r["sum_value"]))
        for r in delta_aggregate(
            event_deltas(rows, group_field="s", value_field="v")
        ).collect()
    }
    assert out == {}  # insert then delete → group vanishes


def test_uncommitted_tmp_discarded_on_recovery(spark, tmp_path):
    """Crash between the parquet write (which creates _SUCCESS) and the
    _graft_commit marker must NOT promote __tmp: recovery at the top of
    the next merge discards the uncommitted snapshot, so none of its rows
    leak into state. A COMMITTED tmp (the crash hit after the marker) is
    promoted."""
    from mysql_cdc_to_http_spark.streaming.latest_state import (
        _recover_state_dir,
    )

    schema = "k long, offset long, op string"
    batch0 = spark.createDataFrame([(1, 10, "c"), (2, 11, "c")], schema)
    stale = spark.createDataFrame([(3, 12, "c")], schema)
    state_dir = str(tmp_path / "state")
    tmp = state_dir + "__tmp"

    def keys():
        return sorted(r["k"] for r in spark.read.parquet(state_dir).collect())

    # first-merge crash window: tmp data fully written (_SUCCESS present)
    # but no _graft_commit marker, and no live dir exists yet
    stale.write.parquet(tmp)
    assert os.path.exists(os.path.join(tmp, "_SUCCESS"))
    merge_batch_into_state(spark, batch0, state_dir, ["k"])
    assert keys() == [1, 2]
    assert not os.path.exists(tmp)
    # a committed tmp with no live dir is promoted as-is
    os.replace(state_dir, tmp)
    _recover_state_dir(state_dir)
    assert keys() == [1, 2]
    assert not os.path.exists(tmp)


def test_event_deltas_reject_unknown_op(spark):
    """An op code outside the known set must raise at execution, not
    silently contribute update semantics; snapshot reads ('r') opt in
    explicitly as insert-like."""
    from decimal import Decimal

    from mysql_cdc_to_http_spark.streaming.incremental_agg import (
        delta_aggregate,
        event_deltas,
    )

    img = "struct<k:bigint,v:decimal(15,3),s:string>"
    ten = Decimal("10.000")
    bad = spark.createDataFrame(
        [("c", None, (1, ten, "a")), ("x", (1, ten, "a"), (2, ten, "a"))],
        f"op string, before {img}, after {img}",
    )
    with pytest.raises(Exception, match="unknown op code"):
        delta_aggregate(
            event_deltas(bad, group_field="s", value_field="v")
        ).collect()
    reads = spark.createDataFrame(
        [("r", None, (1, ten, "a"))], f"op string, before {img}, after {img}"
    )
    with pytest.raises(Exception, match="unknown op code"):
        delta_aggregate(
            event_deltas(reads, group_field="s", value_field="v")
        ).collect()
    out = {
        r["grp"]: (r["n"], float(r["sum_value"]))
        for r in delta_aggregate(
            event_deltas(
                reads, group_field="s", value_field="v", snapshot_ops=("r",)
            )
        ).collect()
    }
    assert out == {"a": (1, 10.0)}


# ---------------------------------------------------------------------------
# streaming incremental join-view maintenance (streaming/incremental_join.py)
# ---------------------------------------------------------------------------
def _status_dim(spark):
    return spark.createDataFrame(
        [("O", "open"), ("P", "pending"), ("F", "final")],
        ["o_orderstatus", "status_label"],
    )


def test_stream_changes_to_view_matches_batch(spark, sf_dir, tmp_path):
    """After the full feed streams through, the maintained joined view
    must equal latest_state(feed) enriched against the dim — the
    streaming IVM identity."""
    from mysql_cdc_to_http_spark.streaming.incremental_join import (
        stream_changes_to_view,
    )
    from mysql_cdc_to_http_spark.streaming.latest_state import latest_state

    events_dir = write_event_files(spark, sf_dir)
    changes = stream_change_events(spark, events_dir)
    view_dir = str(tmp_path / "view")
    q = stream_changes_to_view(
        changes,
        spark,
        view_dir,
        str(tmp_path / "ckpt"),
        _status_dim(spark),
        fact_key="o_orderkey",
        join_key="o_orderstatus",
    )
    q.processAllAvailable()
    q.stop()
    got = spark.read.parquet(view_dir)
    from mysql_cdc_to_http_spark.sources.cdc import read_change_events

    feed = read_change_events(spark, events_dir)
    key = F.coalesce(
        F.col("after.o_orderkey"), F.col("before.o_orderkey")
    ).alias("__k")
    expected = (
        latest_state(
            feed.select("op", "offset", "before", "after", key),
            key_cols=["__k"],
        )
        .select("after.*")
        .join(_status_dim(spark), "o_orderstatus")
        .select(*got.columns)
    )
    assert got.count() == expected.count() > 0
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_merge_changes_into_view_replay_idempotent(spark, sf_dir, tmp_path):
    """Key overwrite makes at-least-once replay safe WITHOUT an epoch
    guard: folding the same batch twice leaves the view unchanged."""
    from mysql_cdc_to_http_spark.sources.cdc import synthetic_change_events
    from mysql_cdc_to_http_spark.streaming.incremental_join import (
        merge_changes_into_view,
    )

    batch = synthetic_change_events(spark, sf_dir)
    view_dir = str(tmp_path / "view")
    dim = _status_dim(spark)
    merge_changes_into_view(
        spark, batch, view_dir, dim, "o_orderkey", "o_orderstatus"
    )
    once = spark.read.parquet(view_dir).collect()
    merge_changes_into_view(
        spark, batch, view_dir, dim, "o_orderkey", "o_orderstatus"
    )
    twice = spark.read.parquet(view_dir).collect()
    assert sorted(map(tuple, once)) == sorted(map(tuple, twice))
    assert len(once) > 0


def test_snapshot_as_of_delete_semantics(spark):
    """A key deleted before the probe offset must be absent at that
    probe and present at earlier probes; an un-inserted key absent."""
    from mysql_cdc_to_http_spark.streaming.latest_state import (
        scd2_history,
        snapshot_as_of,
    )
    import pyspark.sql.functions as F

    changes = spark.createDataFrame(
        [
            (1, "c", 10, 100.0),
            (1, "u", 20, 110.0),
            (1, "d", 30, None),
            (2, "c", 25, 200.0),
        ],
        "pk long, op string, offset long, price double",
    )
    hist = scd2_history(changes, ["pk"], offset_col="offset")

    def snap(off):
        return {
            r["pk"]: r["price"]
            for r in snapshot_as_of(hist, off).collect()
        }

    assert snap(5) == {}  # before any insert
    assert snap(15) == {1: 100.0}
    assert snap(22) == {1: 110.0}  # update visible, key 2 not yet
    assert snap(27) == {1: 110.0, 2: 200.0}
    assert snap(35) == {2: 200.0}  # key 1 deleted


def test_stream_kmv_cleans_scratch_dir(spark, sf_dir):
    """ADVICE r8: q_stream_kmv must not leak its graft_kmv_stream_*
    scratch tree (state + checkpoint + tmp) — repeated bench/verify
    sweeps were accumulating one temp dir per invocation. The query
    materializes the sketch (k rows/group) and removes the tree before
    returning."""
    import glob
    import tempfile

    from mysql_cdc_to_http_spark.queries import all_queries

    before = set(glob.glob(f"{tempfile.gettempdir()}/graft_kmv_stream_*"))
    out = all_queries()["q_stream_kmv"](spark, sf_dir)
    rows = out.collect()
    assert len(rows) > 0  # the sketch materialized
    after = set(glob.glob(f"{tempfile.gettempdir()}/graft_kmv_stream_*"))
    assert after - before == set()  # no orphan scratch dirs


def test_stream_full_outer_emits_both_null_sides(spark, sf_dir):
    """X213: the full-outer interval join must emit watermark-gated
    null rows on BOTH sides, and the two null sets must reflect their
    asymmetric gates — on a self-join feed every unmatched LEFT row
    (no follower in 5min, window expired) is also an unmatched RIGHT
    row iff it has no predecessor; the sets differ in general, which
    proves both eviction paths ran rather than one being mirrored."""
    from mysql_cdc_to_http_spark.queries.streaming import (
        q_stream_stream_join_full,
    )

    rows = q_stream_stream_join_full(spark, sf_dir).collect()
    matched_l = {r.left_id for r in rows if r.left_id is not None and r.right_id is not None}
    matched_r = {r.right_id for r in rows if r.left_id is not None and r.right_id is not None}
    left_null = {r.left_id for r in rows if r.right_id is None}
    right_null = {r.right_id for r in rows if r.left_id is None}
    assert left_null, "no left-side null emissions"
    assert right_null, "no right-side null emissions"
    # a null row never duplicates a matched pairing for the same anchor
    assert not (matched_l & left_null)
    assert not (matched_r & right_null)
    # every emitted row carries the join key
    assert all(r.uid is not None for r in rows)
