"""CDC source — file-based Debezium-style JSON change events.

The reference's source is the MySQL replication wire protocol via canal
(``main.go:459-483``); the *semantics* it contributes — resume-from-offset,
no initial snapshot, per-row change envelopes — map onto a Spark streaming
source over envelope JSON files, which preserve offsets/ordering
without the wire protocol (SURVEY §7 known-hard #6). The envelope file
directory is the engine's only source.

This module provides:
- a deterministic synthetic change-event feed derived from the ``orders``
  testdata table (the oracle can re-derive the same events in SQL);
- writers that materialize the feed as JSON-line files;
- batch + streaming readers with the fixed envelope schema.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from mysql_cdc_to_http_spark.catalog import load_table
from mysql_cdc_to_http_spark.operators.envelope import build_envelope, serialize

#: Row-image payload carried by the synthetic orders feed.
ROW_SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderstatus", T.StringType()),
    ]
)

#: Fixed envelope schema (FIXTURES.md §2) — streaming requires a static
#: schema per query; this is the engine's analog of the reference's
#: table-metadata registry (e.Table.Columns, main.go:249-255).
ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("before", ROW_SCHEMA),
        T.StructField("after", ROW_SCHEMA),
        T.StructField(
            "source", T.StructType([T.StructField("table", T.StringType())])
        ),
        T.StructField("op", T.StringType()),
        T.StructField("offset", T.LongType()),
        T.StructField("ts_ms", T.LongType()),
    ]
)


def synthetic_change_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic change-event feed derived from ``orders``.

    Derivation contract (mirrored by the DuckDB oracles in queries/cdc.py):
    - table: o_orderkey % 4 → orders | customer | widgets | audit_log
    - op:    o_orderstatus O→c (insert), P→u (update), F→d (delete)
    - offset: o_orderkey (binlog-position analog, monotone)
    - update after-image price = before × 1.1; insert has no before;
      delete has no after
    - ts_ms: epoch millis of o_orderdate
    """
    o = load_table(spark, sf_dir, "orders")
    table = (
        F.when(F.col("o_orderkey") % 4 == 0, "orders")
        .when(F.col("o_orderkey") % 4 == 1, "customer")
        .when(F.col("o_orderkey") % 4 == 2, "widgets")
        .otherwise("audit_log")
    )
    op = (
        F.when(F.col("o_orderstatus") == "O", "c")
        .when(F.col("o_orderstatus") == "P", "u")
        .otherwise("d")
    )
    row_img = F.struct("o_orderkey", "o_totalprice", "o_orderstatus")
    after_img = F.struct(
        F.col("o_orderkey"),
        F.when(op == "u", F.col("o_totalprice") * 1.1)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        F.col("o_orderstatus"),
    )
    null_img = F.lit(None).cast(ROW_SCHEMA)
    before = F.when(op == "c", null_img).otherwise(row_img)
    after = F.when(op == "d", null_img).otherwise(after_img)
    ts_ms = (F.unix_timestamp("o_orderdate") * 1000).cast("long")
    env = build_envelope(before, after, table, op, F.col("o_orderkey"), ts_ms)
    return o.select(env.alias("envelope")).select("envelope.*")


def materialize_ordered_buckets(
    df,
    order_col: str,
    out_dir: str,
    n_files: int,
    fmt: str = "text",
    value_cols: list[str] | None = None,
) -> None:
    """Split ``df`` into ``n_files`` contiguous ranges of ``order_col``
    and write one file per range with ascending mtimes — a fully
    deterministic replayable stream directory (repartitionByRange's
    sampled bounds can vary between runs; explicit quantile bounds on the
    dense key cannot). File N holds the Nth range, so
    ``maxFilesPerTrigger=1`` replays micro-batches in key order."""
    import glob as globmod
    import shutil
    import time

    from pyspark.sql import functions as FF

    if n_files > 1:
        pcts = ", ".join(str((i + 1) / n_files) for i in range(n_files - 1))
        bounds = list(
            df.selectExpr(
                f"percentile({order_col}, array({pcts})) AS b"
            ).collect()[0].b
        )
    else:
        bounds = []
    os.makedirs(out_dir, exist_ok=True)
    suffix = {"text": "txt", "parquet": "parquet"}[fmt]
    lo = None
    for i in range(n_files):
        hi = bounds[i] if i < len(bounds) else None
        part = df
        if lo is not None:
            part = part.filter(FF.col(order_col) > lo)
        if hi is not None:
            part = part.filter(FF.col(order_col) <= hi)
        lo = hi
        part = part.orderBy(order_col).coalesce(1)
        if value_cols is not None:
            part = part.select(*value_cols)
        tmp = out_dir + f"__tmp{i}"
        writer = part.write.mode("overwrite")
        if fmt == "text":
            writer.text(tmp)
        else:
            writer.parquet(tmp)
        src = sorted(globmod.glob(os.path.join(tmp, f"part-*.{suffix}*")))
        dest = os.path.join(out_dir, f"{i:05d}.{suffix}")
        if src:
            shutil.move(src[0], dest)
        else:  # empty range still needs a file for stable batch count
            open(dest, "w").close()
        shutil.rmtree(tmp, ignore_errors=True)
        mtime = time.time() + i  # force ascending arrival order
        os.utime(dest, (mtime, mtime))


def event_files_dir(sf_dir: str, n_files: int = 8) -> str:
    """Deterministic cache location for the materialized feed."""
    tag = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(
        tempfile.gettempdir(), "spark_graft_cdc", f"{tag}_n{n_files}"
    )


def write_event_files(
    spark: SparkSession, sf_dir: str, n_files: int = 8, force: bool = False
) -> str:
    """Materialize the synthetic feed as JSON-line files (the replayable
    stream directory — each file becomes one micro-batch under
    ``maxFilesPerTrigger=1``). Files are range-split by offset so batch
    order follows offset order deterministically."""
    out = event_files_dir(sf_dir, n_files)
    done = os.path.join(out, "_done")
    if os.path.exists(done) and not force:
        return out
    # ADVICE r8 race class: stage into a private dir, atomically rename
    # the complete tree into place; concurrent builders can't interleave
    # and readers never see data/ mid-write. `force` replaces the
    # published tree with another atomic swap.
    parent = os.path.dirname(out)
    os.makedirs(parent, exist_ok=True)
    stage = tempfile.mkdtemp(prefix="_stage_cdc_", dir=parent)
    events = synthetic_change_events(spark, sf_dir)
    env = F.struct(
        "before", "after", "source", "op", "offset", "ts_ms"
    )
    payloads = events.select(
        F.col("offset"), serialize(env).alias("value")
    )
    materialize_ordered_buckets(
        payloads.select("offset", "value"),
        order_col="offset",
        out_dir=os.path.join(stage, "data"),
        n_files=n_files,
        fmt="text",
        value_cols=["value"],
    )
    with open(os.path.join(stage, "_done"), "w") as fh:
        fh.write("ok")
    def _swap_in() -> None:
        if os.path.isdir(out):
            old = tempfile.mkdtemp(prefix="_old_cdc_", dir=parent)
            os.rename(out, os.path.join(old, "x"))
            shutil.rmtree(old, ignore_errors=True)
        os.rename(stage, out)

    try:
        if force:
            _swap_in()
        else:
            os.rename(stage, out)
    except OSError:
        # Rename failed because `out` appeared meanwhile. Only discard
        # the fresh stage if the existing tree is COMPLETE (_done marker
        # present) — a stale partial (crash before _done) would otherwise
        # be returned forever (round-9 advice). If partial, evict it and
        # retry the swap once.
        if os.path.exists(done):
            shutil.rmtree(stage, ignore_errors=True)
        else:
            try:
                _swap_in()
            except OSError:
                shutil.rmtree(stage, ignore_errors=True)
                # The retry may fail for a NON-race reason (EXDEV, perms)
                # after _swap_in already renamed the partial tree away —
                # returning an unverified path would surface as a baffling
                # downstream read error. Verify the publish actually
                # exists; re-raise the publish failure if not (round-10
                # advice).
                if not os.path.exists(done):
                    raise
    return out


def read_change_events(spark: SparkSession, events_dir: str) -> DataFrame:
    """Batch read of an envelope JSON directory with the fixed schema."""
    return spark.read.schema(ENVELOPE_SCHEMA).json(os.path.join(events_dir, "data"))


def stream_change_events(
    spark: SparkSession, events_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Streaming read — one file per micro-batch replays the feed in
    deterministic offset order (the resume-from-position analog: Spark's
    checkpoint dir tracks consumed files like the reference tracks binlog
    position, main.go:257-306)."""
    return (
        spark.readStream.schema(ENVELOPE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(os.path.join(events_dir, "data"))
    )
