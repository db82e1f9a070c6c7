"""Sampling & dataset-split operators for training-data pipelines.

- ``stratified_sample``: per-stratum fractions via ``sampleBy`` (seeded,
  deterministic per Spark version/partitioning).
- ``hash_split``: assignment by hash of a stable id — fully deterministic
  across runs, partitionings, and cluster sizes; the correct way to cut
  train/val/test at 100 TB (a seeded random split changes membership when
  the partitioning changes; a hash split never does).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from mysql_cdc_to_http_spark.operators import caching


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    fractions: dict,
    seed: int = 42,
) -> DataFrame:
    return df.sampleBy(stratum_col, fractions, seed=seed)


def split_bucket(id_col: Column, n_buckets: int = 100, salt: str = "split-v2") -> Column:
    """Stable bucket in [0, n_buckets) from a record id. Salted so
    independent splits of the same ids decorrelate.

    md5-derived (first 24 hash bits), the engine's cross-engine
    determinism primitive (see ``md5_sample``): any system with md5 —
    DuckDB, Postgres, Python — reproduces the exact membership, which is
    what makes train/test assignment portable across the lab stack and
    lets the driver oracle value-check it. Modulo bias at 2^24 % 100 is
    ~1e-5. md5 costs more than xxhash64 but hashing ids is never the
    bottleneck — determinism is the operator's contract.

    .. versionchanged:: round 5/6
       The hash function changed xxhash64 → md5 (for cross-engine
       reproducibility). Bucket assignments under the old hash are NOT
       compatible; the default salt was bumped ``split-v1`` → ``split-v2``
       so persisted v1 splits fail loudly (different salt string in
       lineage/configs) instead of silently mixing memberships. Pin
       ``salt="split-v1"`` only for corpora already split with the md5
       form of v1; splits persisted under the xxhash64 era must be
       re-materialized."""
    hex6 = F.substring(
        F.md5(F.concat_ws("|", F.lit(salt), id_col.cast("string"))), 1, 6
    )
    return F.pmod(F.conv(hex6, 16, 10).cast("long"), F.lit(n_buckets))


def hash_split(
    df: DataFrame,
    id_col: str,
    train_pct: int = 80,
    val_pct: int = 10,
    salt: str = "split-v2",
) -> DataFrame:
    """Attach a deterministic ``split`` column: train / val / test."""
    b = split_bucket(F.col(id_col), 100, salt)
    return df.withColumn(
        "split",
        F.when(b < train_pct, "train")
        .when(b < train_pct + val_pct, "val")
        .otherwise("test"),
    )


# Executors must not need this repo on their PYTHONPATH.
import sys as _sys
from pyspark import cloudpickle as _cloudpickle
_cloudpickle.register_pickle_by_value(_sys.modules[__name__])


def global_prefix_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "cum",
    coarse: int = 1024,
) -> DataFrame:
    """Exclusive running sum of ``value_col`` in ``order_col`` order,
    WITHOUT a single-partition global window.

    Two-level prefix sum: rows cumsum inside coarse ``order_col`` ranges
    (a PARTITIONED window — parallel), range totals cumsum on a
    group-count-sized frame (driver-trivial), and the per-range prefix
    broadcasts back. This is the scalable shape for corpus-order
    statistics; `Window.orderBy` with no partition would serialize the
    whole table through one task.
    """
    from pyspark.sql.window import Window as W

    part = df.withColumn(
        "__g", F.floor(F.col(order_col) / F.lit(coarse)).cast("long")
    )
    w_in = (
        W.partitionBy("__g")
        .orderBy(order_col)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    within = F.coalesce(F.sum(value_col).over(w_in), F.lit(0))
    totals = part.groupBy("__g").agg(F.sum(value_col).alias("__t"))
    # The range-totals cumsum IS single-partition — deliberately: the
    # frame is one row per coarse range (rows/coarse — grow ``coarse``
    # with the corpus to keep it bounded; SCALE.md §single-partition).
    # The partition key must be NON-FOLDABLE to state that intent in the
    # plan: a literal key is constant-folded to an empty partition spec,
    # which re-enables WindowExec's single-partition warning (it fired 6×
    # per bench pass before this). ``pmod(__g, 1)`` is identically zero
    # but survives optimization, so the plan carries an explicit 1-bucket
    # hash partitioning instead of an accidental-looking global window.
    w_g = (
        W.partitionBy(F.pmod(F.col("__g"), F.lit(1)))
        .orderBy("__g")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    prefix = totals.select(
        "__g", F.coalesce(F.sum("__t").over(w_g), F.lit(0)).alias("__prefix")
    )
    return (
        part.join(F.broadcast(prefix), "__g")
        .withColumn(out_col, (within + F.col("__prefix")).cast("long"))
        .drop("__g")
    )


def pack_sequences(
    docs: DataFrame,
    id_col: str = "doc_id",
    token_count_col: str = "n_tokens",
    budget: int = 512,
    coarse: int = 1024,
) -> DataFrame:
    """Concat-then-chunk sequence packing (the standard LLM-pretraining
    layout): documents in ``id_col`` order form one virtual token stream
    cut into fixed-``budget`` bins; each doc gets its bin and offset
    (docs may straddle bin boundaries — the consumer splits).

    Deterministic (pure function of ids and token counts), so unlike
    greedy first-fit packing it is reproducible across partitionings and
    oracle-checkable."""
    cum = global_prefix_sum(
        docs, id_col, token_count_col, out_col="__before", coarse=coarse
    )
    return cum.select(
        id_col,
        F.col(token_count_col),
        F.floor(F.col("__before") / F.lit(budget)).cast("long").alias("bin_id"),
        F.pmod(F.col("__before"), F.lit(budget)).cast("long").alias(
            "offset_in_bin"
        ),
    )


def md5_sample(id_col, p_sixteenths: int, salt: str = "v1"):
    """Deterministic Bernoulli membership: keep a row iff
    ``md5(salt|id) < hex_digit(p_sixteenths)`` — a pure function of the
    id, so membership is identical across runs, partitionings, engines,
    and cluster sizes (seeded ``sample()`` is none of those). The
    fraction is p_sixteenths/16 (hex-prefix comparison keeps the
    predicate engine-portable: every SQL engine prints the same md5
    hex). Salting decorrelates independent samples of the same ids."""
    if not 0 < p_sixteenths < 16:
        raise ValueError("p_sixteenths must be in (0, 16)")
    threshold = format(p_sixteenths, "x")
    key = F.concat(F.lit(salt + "|"), id_col.cast("string"))
    return F.md5(key.cast("binary")) < threshold


def stratified_membership_md5(
    stratum_col, id_col, fractions_sixteenths: dict, salt: str = "strat-v1"
):
    """Deterministic per-stratum Bernoulli membership — the oracle-able
    twin of seeded ``sampleBy`` (``stratified_sample`` above): keep a row
    iff ``md5(salt|stratum|id) < hex_digit(p)`` with a per-stratum
    fraction p/16 (16 = keep all). Strata absent from the dict are
    dropped. Membership is a pure function of (stratum, id), so it is
    identical across runs, partitionings, engines, and cluster sizes —
    and SQL-portable for value-level oracle checks. The predicate is a
    single codegen projection: no shuffle, scan-speed at any scale."""
    expr = F.lit(False)
    for stratum, p in fractions_sixteenths.items():
        if not 0 < p <= 16:
            raise ValueError("per-stratum sixteenths must be in (0, 16]")
        key = F.concat(F.lit(f"{salt}|{stratum}|"), id_col.cast("string"))
        keep = (
            F.lit(True)
            if p == 16
            else (F.md5(key.cast("binary")) < format(p, "x"))
        )
        expr = F.when(stratum_col == stratum, keep).otherwise(expr)
    return expr


def stratified_membership_md5_sql(
    stratum_sql: str,
    id_sql: str,
    fractions_sixteenths: dict,
    salt: str = "strat-v1",
) -> str:
    """DuckDB mirror of ``stratified_membership_md5``, generated from the
    same fraction table so the two dialects cannot drift."""
    arms = []
    for stratum, p in fractions_sixteenths.items():
        cond = (
            "TRUE"
            if p == 16
            else (
                f"md5('{salt}|{stratum}|' || CAST({id_sql} AS VARCHAR))"
                f" < '{format(p, 'x')}'"
            )
        )
        arms.append(f"WHEN '{stratum}' THEN {cond}")
    return f"CASE {stratum_sql} " + " ".join(arms) + " ELSE FALSE END"


def weighted_sample_keys(
    id_col, weight_col, salt: str = "v1"
):
    """Efraimidis-Spirakis weighted-sampling key: ``-ln(u) / w`` with a
    deterministic md5-derived uniform u ∈ (0,1) — the k rows with the
    SMALLEST keys form an exact weighted sample without replacement.

    Engine-portable like ``md5_sample``: u comes from the first 24 md5
    bits ((int+1)/(2^24+1), never 0 or 1), so the key is a pure function
    of (salt, id, weight). Selection is a global top-k on the key — at
    scale that is TakeOrderedAndProject (per-partition heaps + merge),
    never a full sort. ln() may differ by an ulp across libm
    implementations, but keys of distinct rows differ by far more, so
    the selected SET is engine-stable (tie-break on id for the
    pathological case)."""
    u24 = F.conv(
        F.substring(
            F.md5(
                F.concat(F.lit(salt + "|"), id_col.cast("string")).cast(
                    "binary"
                )
            ),
            1,
            6,
        ),
        16,
        10,
    ).cast("long")
    u = (u24 + 1).cast("double") / F.lit(float((1 << 24) + 1))
    return -F.log(u) / weight_col.cast("double")


def _pin_ranges(part: DataFrame) -> DataFrame:
    """Persist a ``repartitionByRange(...) + spark_partition_id()`` frame
    so BOTH of its consumers (the within-range window and the per-range
    totals) read ONE materialized partitioning.

    Correctness, not a cache tweak: range boundaries come from reservoir
    sampling whose seed involves the RDD id, so two independent
    evaluations of the same repartitionByRange can draw DIFFERENT
    boundaries — and the two-level prefix decomposition is only exact
    when the window pass and the totals pass agree on ``__p``. The two
    subtrees historically coincided because Catalyst's ReusedExchange
    deduplicated the exchange, but exchange reuse is an optimization,
    not a guarantee: an upstream InMemoryRelation was observed (r17) to
    defeat it and produce an off-by-one prefix at sf0.1. Persisting the
    partitioned frame makes boundary agreement structural (and drops the
    second range-exchange evaluation — guide §2.4)."""
    return caching.persist(part)


def ranked_prefix_sums(
    df: DataFrame,
    order_cols,
    value_cols,
    n_ranges: int = 64,
) -> DataFrame:
    """Inclusive running sums of each ``value_cols`` entry over the total
    order given by ``order_cols`` (list of Columns, e.g.
    ``[F.col("cnt").desc(), F.col("token")]``) — WITHOUT a global
    single-partition window.

    Same two-level discipline as :func:`global_prefix_sum`, generalized
    from a numeric id to an arbitrary sort key: ``repartitionByRange``
    on the sort key gives range-contiguous partitions (ascending
    partition ids follow the sort order), an ordinary PARTITIONED window
    cumsums inside each range in parallel, and the per-range totals —
    one row per range — cumsum on a bounded frame and broadcast back.
    Range boundaries come from Spark's reservoir sampling and vary run
    to run, but the output is boundary-invariant because the order is
    total (callers must include a tiebreak column).

    Output: input columns + ``{v}__cum`` (inclusive) per value column.
    """
    from pyspark.sql.window import Window as W

    part = _pin_ranges(
        df.repartitionByRange(n_ranges, *order_cols).withColumn(
            "__p", F.spark_partition_id()
        )
    )
    w_in = (
        W.partitionBy("__p")
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, 0)
    )
    out = part
    for v in value_cols:
        out = out.withColumn(f"{v}__cum", F.sum(v).over(w_in))
    totals = part.groupBy("__p").agg(
        *[F.sum(v).alias(f"__t_{v}") for v in value_cols]
    )
    w_g = (
        W.partitionBy(F.pmod(F.col("__p"), F.lit(1)))
        .orderBy("__p")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    prefix = totals.select(
        "__p",
        *[
            F.coalesce(F.sum(f"__t_{v}").over(w_g), F.lit(0)).alias(
                f"__pre_{v}"
            )
            for v in value_cols
        ],
    )
    out = out.join(F.broadcast(prefix), "__p")
    for v in value_cols:
        out = out.withColumn(
            f"{v}__cum", F.col(f"{v}__cum") + F.col(f"__pre_{v}")
        ).drop(f"__pre_{v}")
    return out.drop("__p")


def ranked_exclusive_cummax(
    df: DataFrame,
    order_cols,
    value_col: str,
    n_ranges: int = 64,
) -> DataFrame:
    """Running MAX of ``value_col`` over all STRICTLY PRECEDING rows in
    the ``order_cols`` total order — NULL for the global first row —
    without a global single-partition window.

    Same two-level discipline as :func:`ranked_prefix_sums` (cummax is
    associative like sum): ``repartitionByRange`` on the sort key, an
    ordinary partitioned window takes the within-range EXCLUSIVE cummax
    (rowsBetween(unboundedPreceding, -1) — null on each range's first
    row), and the per-range totals-table (one MAX row per range) prefixes
    earlier ranges' maxima via a bounded window, broadcast back and
    combined with ``greatest``. Boundary-invariant because the order is
    total (callers must include a tiebreak in ``order_cols``).

    Output: input columns + ``{value_col}__premax``.
    """
    from pyspark.sql.window import Window as W

    part = _pin_ranges(
        df.repartitionByRange(n_ranges, *order_cols).withColumn(
            "__p", F.spark_partition_id()
        )
    )
    w_in = (
        W.partitionBy("__p")
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    out = part.withColumn("__in_max", F.max(value_col).over(w_in))
    totals = part.groupBy("__p").agg(F.max(value_col).alias("__t"))
    w_g = (
        W.partitionBy(F.pmod(F.col("__p"), F.lit(1)))
        .orderBy("__p")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    prefix = totals.select("__p", F.max("__t").over(w_g).alias("__pre"))
    out = out.join(F.broadcast(prefix), "__p")
    combined = F.when(
        F.col("__in_max").isNotNull() & F.col("__pre").isNotNull(),
        F.greatest("__in_max", "__pre"),
    ).otherwise(F.coalesce("__in_max", "__pre"))
    return (
        out.withColumn(f"{value_col}__premax", combined)
        .drop("__p", "__in_max", "__pre")
    )


def grouped_ranks(
    df: DataFrame,
    grp_cols: list[str],
    order_cols,
    n_ranges: int = 64,
) -> DataFrame:
    """Per-group dense row ranks + group sizes with parallelism
    INDEPENDENT of the group count.

    ``Window.partitionBy(grp)`` ranks with parallelism = #groups — a
    5-group fact table sorts on 5 tasks no matter how many executors
    exist. This two-level form range-partitions on (grp, order) so every
    core gets a slice: within-slice row_number per group, then a
    (slice × group)-sized count table provides each group's exclusive
    prefix and total via bounded windows, broadcast back. Rank =
    in-slice rank + slices-before prefix. Correct because grp_cols lead
    the range key: a group's rows land in consecutive slices, ascending
    slice id = ascending order.

    Output: input columns + ``__grank`` (1-based rank within group under
    ``order_cols``) and ``__gn`` (group size). ``order_cols`` must
    contain a tiebreak making the order total.
    """
    from pyspark.sql.window import Window as W

    keys = [F.col(g) for g in grp_cols] + list(order_cols)
    part = _pin_ranges(
        df.repartitionByRange(n_ranges, *keys).withColumn(
            "__p", F.spark_partition_id()
        )
    )
    w_in = W.partitionBy("__p", *grp_cols).orderBy(*order_cols)
    out = part.withColumn("__rn_in", F.row_number().over(w_in))
    counts = part.groupBy("__p", *grp_cols).agg(
        F.count(F.lit(1)).alias("__c")
    )
    w_pre = (
        W.partitionBy(*grp_cols)
        .orderBy("__p")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    w_tot = W.partitionBy(*grp_cols)
    pref = counts.select(
        "__p",
        *grp_cols,
        F.coalesce(F.sum("__c").over(w_pre), F.lit(0)).alias("__pre"),
        F.sum("__c").over(w_tot).alias("__gn"),
    )
    out = out.join(F.broadcast(pref), ["__p", *grp_cols])
    return (
        out.withColumn("__grank", F.col("__rn_in") + F.col("__pre"))
        .drop("__p", "__rn_in", "__pre")
    )


def grouped_prefix_sums(
    df: DataFrame,
    grp_cols: list[str],
    order_cols,
    value_cols: list[str],
    n_ranges: int = 64,
) -> DataFrame:
    """Per-group inclusive running sums of ``value_cols`` under
    ``order_cols`` — :func:`grouped_ranks`' discipline generalized from
    rank (a running count) to arbitrary running sums, parallelism
    independent of the group count. Adds ``{v}__cum`` per value column
    and ``{v}__tot`` (the group total). ``order_cols`` must contain a
    tiebreak making the order total."""
    from pyspark.sql.window import Window as W

    keys = [F.col(g) for g in grp_cols] + list(order_cols)
    part = _pin_ranges(
        df.repartitionByRange(n_ranges, *keys).withColumn(
            "__p", F.spark_partition_id()
        )
    )
    w_in = (
        W.partitionBy("__p", *grp_cols)
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, 0)
    )
    out = part
    for v in value_cols:
        out = out.withColumn(f"{v}__cum", F.sum(v).over(w_in))
    counts = part.groupBy("__p", *grp_cols).agg(
        *[F.sum(v).alias(f"__c_{v}") for v in value_cols]
    )
    w_pre = (
        W.partitionBy(*grp_cols)
        .orderBy("__p")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    w_tot = W.partitionBy(*grp_cols)
    pref = counts.select(
        "__p",
        *grp_cols,
        *[
            F.coalesce(F.sum(f"__c_{v}").over(w_pre), F.lit(0)).alias(
                f"__pre_{v}"
            )
            for v in value_cols
        ],
        *[
            F.sum(f"__c_{v}").over(w_tot).alias(f"{v}__tot")
            for v in value_cols
        ],
    )
    out = out.join(F.broadcast(pref), ["__p", *grp_cols])
    for v in value_cols:
        out = out.withColumn(
            f"{v}__cum", F.col(f"{v}__cum") + F.col(f"__pre_{v}")
        ).drop(f"__pre_{v}")
    return out.drop("__p")
