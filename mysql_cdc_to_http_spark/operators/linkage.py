"""Record linkage / entity resolution: blocked fuzzy matching.

The 100 TB shape: fuzzy-matching a corpus against itself is O(n²) in
string comparisons unless candidates are BLOCKED first — the same
candidate-generation discipline as MinHash-LSH (operators/dedup.py),
applied to typo-distance instead of Jaccard. A blocking key routes each
record to a small bucket (equi-join = one hash shuffle on the key);
only within-bucket pairs pay the edit-distance compute, all of it
JVM-side ``levenshtein`` inside whole-stage codegen. Recall is governed
by the blocking key the caller picks (a typo OUTSIDE the key's columns
is found; one inside is not — the standard multi-pass answer is to
union pairs from several independent blocking keys, which stays cheap
because each pass is candidate-sized).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def blocked_pairs(
    df: DataFrame,
    id_col: str,
    block_key: Column,
    payload_cols: list[str],
    max_block: int | None = None,
) -> DataFrame:
    """Within-block candidate pairs (id_a < id_b): one equi-join shuffle
    on the blocking key; output carries only ids + the payload columns
    needed for scoring (suffixes _a/_b).

    Within-block cost is QUADRATIC in block size — the steepest curve
    in the engine's 100× sweep (SCALE.md) — so a degenerate blocking
    key (empty string, a common default value) concentrates the whole
    corpus into one block and melts its task. ``max_block`` makes the
    bound structural: each block deterministically truncates to its
    first ``max_block`` members by ``md5(block|id)`` rank (an unbiased
    fixed sample of the block — the basket_pairs/graph.py discipline),
    capping per-block pair fan-out at max_block². Recall contract:
    EXACT for every block ≤ max_block (no row is dropped); larger
    blocks compare only the sampled members — and a block that big
    means the key is too coarse (audit its block-size distribution and
    pick a finer key / add a pass) rather than a workload to brute-force.
    Default None preserves uncapped semantics for oracled callers
    whose keys are verified bounded (q_record_linkage pins its key's
    max block size in tests/test_plans.py)."""
    side = df.select(
        F.col(id_col).alias("__id"),
        block_key.alias("__block"),
        *[F.col(c) for c in payload_cols],
    )
    if max_block is not None:
        if max_block < 2:
            raise ValueError(f"max_block must be >= 2, got {max_block}")
        from pyspark.sql.window import Window as W

        rk = F.row_number().over(
            W.partitionBy("__block").orderBy(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.lit("block-v1"),
                        F.col("__block").cast("string"),
                        F.col("__id").cast("string"),
                    )
                ),
                "__id",
            )
        )
        side = (
            side.withColumn("__rk", rk)
            .filter(F.col("__rk") <= max_block)
            .drop("__rk")
        )
    a = side.select(
        F.col("__id").alias("id_a"),
        "__block",
        *[F.col(c).alias(f"{c}_a") for c in payload_cols],
    )
    b = side.select(
        F.col("__id").alias("id_b"),
        "__block",
        *[F.col(c).alias(f"{c}_b") for c in payload_cols],
    )
    return a.join(b, "__block").filter(F.col("id_a") < F.col("id_b"))


def fuzzy_match(
    pairs: DataFrame,
    col_a: str,
    col_b: str,
    max_dist: int,
    out_col: str = "dist",
) -> DataFrame:
    """Keep candidate pairs within ``max_dist`` edits. levenshtein's
    optional threshold form short-circuits the DP once the running
    minimum exceeds max_dist — O(max_dist·len) instead of O(len²) per
    pair, which is what makes wide blocks survivable."""
    d = F.levenshtein(F.col(col_a), F.col(col_b), max_dist)
    return (
        pairs.withColumn(out_col, d)
        .filter((F.col(out_col) >= 0) & (F.col(out_col) <= max_dist))
    )


def multipass_pairs(
    df: DataFrame,
    id_col: str,
    block_keys: list[Column],
    payload_cols: list[str],
    max_block: int | None = None,
) -> DataFrame:
    """Candidate pairs from SEVERAL independent blocking keys, unioned
    and deduplicated on the pair ids — the standard multi-pass recall
    answer (module docstring): a typo INSIDE one key's columns escapes
    that pass but is caught by any pass whose key avoids those columns.
    Recall is the union of per-pass recalls; a pair is missed only if
    EVERY key's columns contain a discrepancy.

    Cost shape: each pass is one candidate-sized equi-join on its key
    (same shuffle discipline as :func:`blocked_pairs`, including the
    optional ``max_block`` truncation guard per pass), and the final
    distinct dedups pairs found by multiple passes. The dedup shuffles
    candidate pairs carrying the payload columns — acceptable because
    the payload here IS the scoring column every pass already moved;
    candidates are block-bounded, never corpus-quadratic."""
    if not block_keys:
        raise ValueError("multipass_pairs needs at least one block key")
    out: DataFrame | None = None
    for key in block_keys:
        p = blocked_pairs(
            df, id_col, key, payload_cols, max_block=max_block
        ).drop("__block")
        out = p if out is None else out.unionByName(p)
    return out.distinct()
