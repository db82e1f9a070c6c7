"""Table-layout operators: the manifest of a hash-sharded export.

A training-data export splits the corpus into md5-membership shards;
``shard_manifest`` is the per-shard row count and order-independent
checksum an auditor recomputes from the delivered files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


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
