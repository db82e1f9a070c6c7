"""Snapshot diff — reverse CDC: derive the change stream between two
table snapshots.

The reference consumes a live binlog CDC stream (main.go:50-123); the
inverse operation — given yesterday's and today's snapshot of a table,
emit the insert/update/delete events that connect them — is what a batch
pipeline runs when no binlog is available (reconciliation, backfill
bootstrap, audit). The emitted actions use the reference's action
vocabulary (insert/update/delete) so the diff can feed the same envelope
builder (operators/envelope.py).

Scale shape: one full-outer join co-partitioned on the key columns —
both sides shuffle exactly once on the same key, so at 100 TB you
pre-bucket both snapshots by the key (``DataFrameWriter.bucketBy``) and the
join is shuffle-free; change detection is a null-safe projection over
the joined row (single codegen stage, no second pass). Unchanged rows —
the overwhelming majority of a real diff — are filtered before anything
downstream, so the output is change-sized, not table-sized.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """(key..., action, old_<c>..., new_<c>...) for every row that was
    inserted, deleted, or had any ``compare_cols`` value change between
    ``old`` and ``new``. Unchanged rows are dropped. NULL-safe value
    comparison (``eqNullSafe``): NULL→value and value→NULL transitions
    are updates, NULL→NULL is unchanged."""
    if not key_cols or not compare_cols:
        raise ValueError("key_cols and compare_cols must be non-empty")
    o = old.select(
        *key_cols,
        F.lit(True).alias("__in_old"),
        *[F.col(c).alias(f"old_{c}") for c in compare_cols],
    )
    n = new.select(
        *key_cols,
        F.lit(True).alias("__in_new"),
        *[F.col(c).alias(f"new_{c}") for c in compare_cols],
    )
    j = o.join(n, key_cols, "full_outer")
    changed = reduce(
        lambda a, b: a | b,
        [
            ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
            for c in compare_cols
        ],
    )
    action = (
        F.when(F.col("__in_new").isNull(), "delete")
        .when(F.col("__in_old").isNull(), "insert")
        .when(changed, "update")
    )
    return (
        j.withColumn("action", action)
        .filter(F.col("action").isNotNull())
        .select(
            *key_cols,
            "action",
            *[f"old_{c}" for c in compare_cols],
            *[f"new_{c}" for c in compare_cols],
        )
    )


def apply_diff(
    old: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Apply a ``snapshot_diff`` change set onto ``old``, reconstructing
    ``new`` — MERGE INTO semantics (WHEN MATCHED UPDATE/DELETE, WHEN NOT
    MATCHED INSERT) for the engine's diff format, and the property that
    makes the pair usable for reconciliation:
    ``apply_diff(old, snapshot_diff(old, new)) == new`` (tested).

    Scale shape: touched keys are change-sized, so the subtraction is a
    broadcast anti-join for any realistic diff; inserted/updated rows
    append via union — no full-table rewrite beyond the one pass."""
    touched = changes.filter(F.col("action") != "insert").select(*key_cols)
    kept = old.select(*key_cols, *compare_cols).join(
        F.broadcast(touched), key_cols, "left_anti"
    )
    added = changes.filter(
        F.col("action").isin("insert", "update")
    ).select(
        *key_cols,
        *[F.col(f"new_{c}").alias(c) for c in compare_cols],
    )
    return kept.unionByName(added)


def maintain_joined_view(
    j_old: DataFrame,
    a_new: DataFrame,
    b_new: DataFrame,
    da_keys: DataFrame,
    db_keys: DataFrame,
    fact_key: str,
    join_key: str,
) -> DataFrame:
    """Incremental view maintenance for a fact⋈dim equi-join: update the
    previously-materialized view ``j_old`` (columns: fact payload +
    enriched dim columns) to reflect churn on EITHER side, touching only
    delta-sized work instead of re-joining the full tables.

    ``da_keys``: one-column frame of touched fact keys (inserted,
    updated, or deleted — a ``snapshot_diff`` output's key column).
    ``db_keys``: touched dim join keys, named ``join_key``.

    Derivation: a view row is stale iff its fact row changed OR its dim
    row changed — so keep J_old minus both touched-key sets (two
    BROADCAST anti-joins; the touched sets are change-sized), then
    rebuild exactly the fact rows needing (re)enrichment: new/updated
    facts plus facts referencing a changed dim (two broadcast
    semi-joins), inner-joined against the new dim. Deletes fall out for
    free: a deleted fact never re-enters (not in ``a_new``), and a fact
    pointing at a deleted dim is dropped by the rebuild's inner join —
    both exactly as a full recompute would. The identity
    ``maintain == a_new ⋈ b_new`` is property-tested.

    At 100 TB this is the difference between re-joining the corpus and
    one pass over the view plus a delta-sized join — the batch analog of
    the engine's streaming incremental_agg."""
    kept = j_old.join(F.broadcast(da_keys), fact_key, "left_anti").join(
        F.broadcast(db_keys), join_key, "left_anti"
    )
    touched = (
        a_new.join(F.broadcast(da_keys), fact_key, "left_semi")
        .unionByName(a_new.join(F.broadcast(db_keys), join_key, "left_semi"))
        .dropDuplicates([fact_key])
    )
    rebuilt = touched.join(b_new, join_key)
    return kept.unionByName(rebuilt.select(*kept.columns))


# Executors must not need this repo on their PYTHONPATH (driver contract
# imports by path).
import sys as _sys
from pyspark import cloudpickle as _cloudpickle
_cloudpickle.register_pickle_by_value(_sys.modules[__name__])
