"""Table-layout operators: partitioned + sorted parquet writes and
hash-sharded exports.

At 100 TB the scan plan is decided at WRITE time: hive-partitioning by a
low-cardinality predicate column turns matching filters into partition
pruning (directories never listed), sorting within files tightens
parquet row-group min/max so filters on the sort key skip pages, and
file sizing (one shuffle partition per partition value, bounded records
per file) prevents both the small-files problem and unsplittable
monsters. None of this changes query results — tests assert layout
properties on the plan (`PartitionFilters`) and on disk, and that a
round-trip preserves the data exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    sort_by: list[str] | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """Write hive-partitioned parquet with clustered files.

    ``repartition(partition_by)`` routes each partition value to one
    shuffle task so each directory gets one file per task instead of one
    per upstream partition (the classic small-files fan-out:
    n_input_partitions × n_values files). ``sort_by`` then orders rows
    WITHIN each file so parquet row-group min/max statistics prune reads
    on the sort key. Skewed partition values are the one caveat — a hot
    value lands in one task; AQE rebalance or adding a salt column to
    ``partition_by`` splits it when that matters."""
    staged = df.repartition(*[F.col(c) for c in partition_by])
    if sort_by:
        staged = staged.sortWithinPartitions(*partition_by, *sort_by)
    writer = staged.write.mode("overwrite")
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.partitionBy(*partition_by).parquet(path)


def write_shards(
    df: DataFrame,
    path: str,
    id_col: str,
    n_shards: int = 16,
    salt: str = "shard-v1",
) -> DataFrame:
    """Deterministic sharded export — the last step of a training-data
    pipeline: split the corpus into ``n_shards`` hive directories
    (shard=0..n-1) with EXACTLY one parquet file each, membership fixed
    by md5(id) so re-running the export on the same corpus reproduces
    identical shard membership regardless of cluster size, partitioning,
    or input order (a seeded-random split has none of those properties —
    same argument as operators/sampling.py:hash_split).

    One file per shard by construction: ``repartition(n, shard)`` routes
    every row of a shard value to one task (hash of the VALUE decides
    the task, so a shard never straddles tasks), and ``partitionBy``
    then writes one file per (task, value) pair. Collisions of two
    shard values onto one task cost balance of WORK, not of output.

    Returns the manifest DataFrame — one row per shard with ``n_rows``
    and an order-independent content checksum (XOR of 60-bit md5
    prefixes of the ids: commutative, overflow-free at any cardinality,
    and any single-row difference flips it) — driver-sized (n_shards
    rows), ready to write alongside the data.
    """
    from mysql_cdc_to_http_spark.operators.sampling import split_bucket

    sharded = df.withColumn(
        "shard", split_bucket(F.col(id_col), n_shards, salt)
    )
    (
        sharded.repartition(n_shards, F.col("shard"))
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    return shard_manifest(df, id_col, n_shards, salt)


def shard_manifest(
    df: DataFrame,
    id_col: str,
    n_shards: int = 16,
    salt: str = "shard-v1",
) -> DataFrame:
    """The manifest alone (no write): per-shard row count + XOR
    checksum. Recomputable by any engine with md5 — an auditor verifies
    a delivered export by recomputing this from the shard files and
    comparing, without trusting the producer."""
    from mysql_cdc_to_http_spark.operators.sampling import split_bucket

    id60 = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    return (
        df.select(
            split_bucket(F.col(id_col), n_shards, salt).alias("shard"),
            id60.alias("__id60"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.bit_xor("__id60").alias("content_xor"),
        )
        .orderBy("shard")
    )
