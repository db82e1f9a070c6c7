"""Pipeline orchestration — the engine's analog of the reference's
``main()`` (``main.go:432-484``): wire source → filters → transform →
envelope → routing → sinks, with checkpointed resume.

Reference lifecycle mapped:

- loadEnv / config            → EngineConfig (config.py)
- canal.NewCanal + RunFrom    → streaming envelope file source
- loadPosition fallback chain → checkpointLocation (offsets tracked by Spark)
- OnRow hot path              → one declarative plan (filters/coercion/
                                envelope are column expressions)
- RPush + http.Post           → queue writeStream + foreachBatch HTTP sink
- startRedisQueueWorker       → second streaming query tailing the queue

Delivery semantics: the reference delivers twice (direct + worker) with
at-most-once each (SURVEY §2.1 finding). The engine default is ONE path,
at-least-once with idempotency keys, exactly-once state via checkpoints;
``compat_double_delivery=True`` reproduces the reference topology.
"""

from __future__ import annotations

import os

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from mysql_cdc_to_http_spark.config import EngineConfig
from mysql_cdc_to_http_spark.operators.envelope import (
    action_filter,
    extract_table_name,
    serialize,
)
from mysql_cdc_to_http_spark.operators.routing import assign_group, load_groups
from mysql_cdc_to_http_spark.sources.cdc import stream_change_events
from mysql_cdc_to_http_spark.sources.http_sink import http_batch_poster
from mysql_cdc_to_http_spark.sources.queue import dequeue_stream, enqueue_stream


@dataclass
class PipelineHandles:
    """Running streaming queries; call ``stop()`` / ``await_all()``."""

    direct: object | None
    queue_writer: object | None
    queue_worker: object | None

    def queries(self):
        return [q for q in (self.direct, self.queue_writer, self.queue_worker) if q]

    def process_all_available(self):
        for q in self.queries():
            q.processAllAvailable()

    def stop(self):
        for q in self.queries():
            q.stop()


def build_delivery_frame(
    changes: DataFrame,
    groups: dict[str, list[str]] | None = None,
    keep_deletes: bool = True,
) -> DataFrame:
    """The OnRow hot path as one plan: action filter → group routing →
    serialized envelope + idempotency key."""
    keep = ("c", "u", "d") if keep_deletes else ("c", "u")
    # consume-point counters (reference: per-event log in the canal
    # loop) — per-batch n_rows/n_c/n_u/n_d in observedMetrics, attached
    # BEFORE the action filter so dropped deletes are still counted
    from mysql_cdc_to_http_spark.operators.metrics import (
        observe_actions_stream,
    )

    if changes.isStreaming:
        changes = observe_actions_stream(changes, name="consume_metrics")
    routed = assign_group(
        action_filter(changes, keep=keep), "source.table", groups
    )
    payload = serialize(
        F.struct("before", "after", "source", "op", "offset", "ts_ms")
    )
    idem = F.concat_ws(":", F.col("source.table"), F.col("offset"))
    return routed.select(
        F.col("grp"), payload.alias("payload"), idem.alias("idem_key")
    )


def run_pipeline(
    spark: SparkSession,
    config: EngineConfig,
    events_dir: str,
    work_dir: str,
    compat_double_delivery: bool = False,
) -> PipelineHandles:
    """Start the CDC delivery pipeline.

    Default topology: source → delivery frame → HTTP sink (foreachBatch,
    at-least-once, idempotent). Events that still fail after
    ``config.http_retries`` retries are dead-lettered to
    ``<work_dir>/dlq/epoch=<id>`` and the stream keeps running;
    ``sources.http_sink.replay_dlq`` re-drives them. With
    ``compat_double_delivery`` the reference's second path runs too:
    payloads are also enqueued and a worker query re-POSTs them (2×
    delivery, as the reference does when Redis is up — main.go:107 +
    main.go:411), dead-lettering to ``<work_dir>/dlq_worker``.
    """
    groups = load_groups(config.table_groups_file)
    changes = stream_change_events(
        spark, events_dir, max_files_per_trigger=config.max_files_per_trigger
    )
    delivery = build_delivery_frame(
        changes, groups, keep_deletes=not config.compat_drop_deletes
    )

    def poster(dlq_name: str):
        return http_batch_poster(
            config.post_url,
            os.path.join(work_dir, dlq_name),
            retries=config.http_retries,
        )

    direct = (
        delivery.writeStream.foreachBatch(poster("dlq"))
        .option("checkpointLocation", os.path.join(work_dir, "ckpt_direct"))
        .outputMode("append")
        .start()
    )

    queue_writer = queue_worker = None
    if compat_double_delivery:
        queue_payloads = delivery.select(
            F.to_json(F.struct("grp", "payload", "idem_key")).alias("value")
        )
        queue_writer = enqueue_stream(
            queue_payloads,
            config.queue_dir,
            os.path.join(work_dir, "ckpt_queue_write"),
        )
        payload = F.get_json_object("value", "$.payload")
        # the worker re-parses the payload and re-routes its table like
        # main.go:404-408 (tables may have been re-grouped or un-grouped
        # between enqueue and drain)
        worker_frame = assign_group(
            dequeue_stream(spark, config.queue_dir).select(
                payload.alias("payload"),
                F.get_json_object("value", "$.idem_key").alias("idem_key"),
                F.get_json_object(payload, "$.source.table").alias("table"),
            ),
            "table",
            groups,
        )
        queue_worker = (
            # its own DLQ: the two queries' epoch ids overlap
            worker_frame.writeStream.foreachBatch(poster("dlq_worker"))
            .option(
                "checkpointLocation", os.path.join(work_dir, "ckpt_worker")
            )
            .outputMode("append")
            .start()
        )

    return PipelineHandles(direct, queue_writer, queue_worker)
