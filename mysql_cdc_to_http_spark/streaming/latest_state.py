"""CDC latest-state materialization (SURVEY X33) — the canonical consumer
of the change envelope: fold inserts/updates/deletes into the current
table snapshot.

Batch form: rank-1 by (key, offset desc), drop deletes — a single shuffle
on the key. Streaming form: ``foreachBatch`` merge into a parquet state
store — each micro-batch is combined with existing state and re-ranked,
which is idempotent under replay (exactly-once state from at-least-once
delivery, the guarantee the reference lacks — SURVEY §2.1 delivery
finding). On Delta/Iceberg this becomes MERGE INTO; parquet-overwrite is
the dependency-free stand-in with the same semantics. (Round-7 status
of the MERGE target: no delta/iceberg jar exists anywhere in this
container — verified by filesystem search — and there is no network to
vendor one, so the table-format sink stays env-gated; the foreachBatch
body is the single seam where
``MERGE INTO state USING batch ON keys WHEN MATCHED UPDATE / NOT
MATCHED INSERT / matched-and-op='d' DELETE`` drops in unchanged.)
"""

from __future__ import annotations

import os
import shutil

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window as W

_RN = "__ls_rn"

# Sentinel (type min) per integral offset type: CDC offsets are never
# NULL (the reference's binlog position is always set — main.go:241), so
# coalescing with an unreachable sentinel changes no ordering but marks
# the non-null invariant in the plan's type system. The Catalyst
# LatestStateRewrite rule must bail on NULLABLE order keys (max_by skips
# NULL keys, row_number ranks them) — this is how the engine proves the
# rewrite safe on parquet-sourced frames, whose columns are always
# declared nullable.
_INTEGRAL_MIN = {
    "tinyint": -(2**31),
    "smallint": -(2**31),
    "int": -(2**31),
    "bigint": -(2**63),
}


def _offset_order_key(changes: DataFrame, offset_col: str):
    """Non-nullable ordering key for a never-null integral offset column;
    falls back to the raw (nullable) column for non-integral types, where
    the Window plan is kept as-is."""
    dt = changes.schema[offset_col].dataType.simpleString()
    sentinel = _INTEGRAL_MIN.get(dt)
    if sentinel is None:
        return F.col(offset_col)
    return F.coalesce(F.col(offset_col), F.lit(sentinel))


def latest_state(
    changes: DataFrame,
    key_cols: Sequence[str],
    offset_col: str = "offset",
    op_col: str = "op",
) -> DataFrame:
    """Reduce a change-event set to the latest surviving row per key.

    Highest offset wins per key; a delete as the latest event removes the
    key. Input columns are carried through minus the rank helper.
    """
    w = W.partitionBy(*key_cols).orderBy(
        _offset_order_key(changes, offset_col).desc()
    )
    return (
        changes.withColumn(_RN, F.row_number().over(w))
        .filter((F.col(_RN) == 1) & (F.col(op_col) != "d"))
        .drop(_RN)
    )


def scd2_history(
    changes: DataFrame,
    key_cols: Sequence[str],
    offset_col: str = "offset",
    op_col: str = "op",
) -> DataFrame:
    """Slowly-changing-dimension type 2: every change event becomes a
    versioned row with a validity interval [valid_from, valid_to), the
    open current version having valid_to = null. Deletes close the
    interval without opening a new one (the tombstone row is emitted with
    is_current=false so history shows the deletion offset).

    One window shuffle on the key — the same partitioning latest_state
    uses, so a pipeline computing both shares the exchange."""
    w = W.partitionBy(*key_cols).orderBy(F.col(offset_col))
    nxt = F.lead(offset_col).over(w)
    return (
        changes.withColumn("valid_from", F.col(offset_col))
        .withColumn("valid_to", nxt)
        .withColumn(
            "is_current", nxt.isNull() & (F.col(op_col) != "d")
        )
    )


def merge_batch_into_state(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    key_cols: Sequence[str],
    offset_col: str = "offset",
    op_col: str = "op",
) -> None:
    """One ``foreachBatch`` merge step: state' = latest_state(state ∪ batch).

    Deletes must be retained *in state* (not just filtered) so a replayed
    older update cannot resurrect a deleted key; the delete tombstone wins
    the rank. Readers filter tombstones via ``read_state``.
    """
    _recover_state_dir(state_dir)
    cols = batch.columns
    if os.path.exists(state_dir):
        state = spark.read.parquet(state_dir).select(*cols)
        combined = state.unionByName(batch)
    else:
        combined = batch
    w = W.partitionBy(*key_cols).orderBy(
        _offset_order_key(combined, offset_col).desc()
    )
    merged = (
        combined.withColumn(_RN, F.row_number().over(w))
        .filter(F.col(_RN) == 1)
        .drop(_RN)
    )
    _swap_into_state_dir(merged, state_dir)


def _swap_into_state_dir(merged: DataFrame, state_dir: str) -> None:
    """Write-then-swap commit, shared by every parquet state store here:
    parquet overwrite would clobber its own input mid-plan, so the merge
    lands in a tmp dir, the live dir is renamed ASIDE (not deleted), tmp
    is promoted, then the old copy is dropped. Every crash point leaves
    a recoverable state: before the aside-move the live dir is intact;
    after it, tmp is a COMMITTED snapshot and ``_recover_state_dir``
    promotes it on next start. (On object storage this swap becomes a
    manifest/metadata commit — Delta/Iceberg MERGE INTO; rename is the
    local-FS stand-in.)

    The ``_graft_commit`` marker is written LAST and promotion is gated
    on it, so recovery never promotes a tmp whose write did not finish;
    an uncommitted tmp is discarded and its batch replayed from
    scratch."""
    tmp = state_dir + "__tmp"
    old = state_dir + "__old"
    merged.write.mode("overwrite").parquet(tmp)
    with open(os.path.join(tmp, _COMMIT_FILE), "w") as fh:
        fh.write("1")
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(state_dir):
        os.replace(state_dir, old)
    os.replace(tmp, state_dir)
    shutil.rmtree(old, ignore_errors=True)


_COMMIT_FILE = "_graft_commit"


def _recover_state_dir(state_dir: str) -> None:
    """Roll the write-then-swap protocol forward/back after a crash.

    If the live dir exists, any leftover __tmp/__old are stale partials —
    drop them. If it is missing, a crash hit the swap window: promote a
    COMMITTED __tmp (its _graft_commit marker is written after the data
    — the swap only began after that), else restore __old. An
    uncommitted tmp (data written, marker maybe not) is discarded, never
    promoted.
    """
    tmp = state_dir + "__tmp"
    old = state_dir + "__old"
    if os.path.exists(state_dir):
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
        return
    if os.path.exists(os.path.join(tmp, _COMMIT_FILE)):
        os.replace(tmp, state_dir)
        shutil.rmtree(old, ignore_errors=True)
    else:
        shutil.rmtree(tmp, ignore_errors=True)
        if os.path.exists(old):
            os.replace(old, state_dir)


def read_state(
    spark: SparkSession, state_dir: str, op_col: str = "op"
) -> DataFrame:
    """Current snapshot: state rows minus delete tombstones.

    Deliberately does NOT run crash recovery: recovery mutates the dirs
    (promote __tmp / restore __old / delete leftovers), and a reader
    doing that concurrently with a live writer mid-swap could delete the
    writer's freshly-written snapshot out from under it. Writers recover
    at the top of their own merge; a reader that finds no live dir after
    a crash simply fails until the writer restarts."""
    return spark.read.parquet(state_dir).filter(F.col(op_col) != "d")


def snapshot_as_of(
    history: DataFrame,
    offset,
    op_col: str = "op",
) -> DataFrame:
    """Time travel over an SCD2 history: the table snapshot AS OF the
    given offset — rows whose validity interval [valid_from, valid_to)
    covers it, minus delete tombstones (a key deleted before the probe
    offset is absent, exactly as the live table was).

    Because :func:`scd2_history` intervals are disjoint per key, this
    needs NO aggregation or window — one interval predicate over the
    (already materialized) history, so asking for any point in the past
    costs a filtered scan, the Delta/Iceberg time-travel shape re-built
    from a CDC changelog."""
    from pyspark.sql import Column

    probe = offset if isinstance(offset, Column) else F.lit(offset)
    return history.filter(
        (F.col("valid_from") <= probe)
        & (F.col("valid_to").isNull() | (probe < F.col("valid_to")))
        & (F.col(op_col) != "d")
    )
