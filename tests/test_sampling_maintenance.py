"""Sampling/split determinism."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from mysql_cdc_to_http_spark.catalog import load_table
from mysql_cdc_to_http_spark.operators.sampling import hash_split, stratified_sample


def test_hash_split_deterministic_and_partition_invariant(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    a = {r.doc_id: r.split for r in hash_split(docs, "doc_id").collect()}
    b = {
        r.doc_id: r.split
        for r in hash_split(docs.repartition(13), "doc_id").collect()
    }
    assert a == b  # membership survives repartitioning
    sizes = {}
    for s in a.values():
        sizes[s] = sizes.get(s, 0) + 1
    n = len(a)
    assert 0.7 < sizes["train"] / n < 0.9
    assert 0.03 < sizes["val"] / n < 0.2
    assert 0.03 < sizes["test"] / n < 0.2
    # different salt → different membership (decorrelated splits)
    c = {r.doc_id: r.split for r in hash_split(docs, "doc_id", salt="v2").collect()}
    assert c != a


def test_stratified_sample_fractions(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    totals = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    fr = {"en": 0.5, "de": 0.5, "es": 0.25, "fr": 0.25, "zh": 1.0}
    sampled = stratified_sample(docs, "lang", fr)
    got = {r.lang: r.n for r in sampled.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got.get("zh", 0) == totals["zh"]  # fraction 1.0 keeps all
    for lang in ("en", "de"):
        assert got[lang] < totals[lang]  # strict subsample


def test_pack_sequences_partition_invariant(spark, sf_dir):
    """The two-level prefix sum must be a pure function of (id, count) —
    identical under any physical partitioning."""
    from mysql_cdc_to_http_spark.catalog import load_table
    from mysql_cdc_to_http_spark.operators.sampling import pack_sequences
    from mysql_cdc_to_http_spark.operators.text import token_count_ws
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count_ws(F.col("text")).alias("n_tokens")
    )
    a = pack_sequences(docs.repartition(1), budget=512)
    b = pack_sequences(docs.repartition(13, "n_tokens"), budget=512)
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb
    # bins are dense and the stream is contiguous: every offset < budget,
    # bin ids are nondecreasing in doc order
    assert all(r[3] < 512 for r in ra)
    bins = [r[2] for r in ra]
    assert bins == sorted(bins)


def test_md5_sample_partition_invariant_and_sized(spark, sf_dir):
    from mysql_cdc_to_http_spark.catalog import load_table
    from mysql_cdc_to_http_spark.operators.sampling import md5_sample
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    a = {r.doc_id for r in docs.filter(md5_sample(F.col("doc_id"), 4)).collect()}
    b = {
        r.doc_id
        for r in docs.repartition(17)
        .filter(md5_sample(F.col("doc_id"), 4))
        .collect()
    }
    assert a == b  # membership is a pure function of the id
    n = docs.count()
    assert abs(len(a) / n - 0.25) < 0.08  # ~25% of the corpus
    # a different salt decorrelates: overlap near 25% of 25%, not 100%
    c = {
        r.doc_id
        for r in docs.filter(md5_sample(F.col("doc_id"), 4, salt="v2")).collect()
    }
    assert len(a & c) < 0.6 * len(a)


def test_stratified_md5_partition_invariant_and_fractions(spark, sf_dir):
    from mysql_cdc_to_http_spark.operators.sampling import (
        stratified_membership_md5,
    )

    docs = load_table(spark, sf_dir, "documents")
    frac = {"en": 8, "de": 8, "es": 4, "fr": 4, "zh": 16}
    member = stratified_membership_md5(F.col("lang"), F.col("doc_id"), frac)
    a = {r.doc_id for r in docs.filter(member).select("doc_id").collect()}
    b = {
        r.doc_id
        for r in docs.repartition(13).filter(member).select("doc_id").collect()
    }
    assert a == b  # membership is a pure function of (stratum, id)
    totals = {
        r.lang: r.n
        for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    got = {
        r.lang: r.n
        for r in docs.filter(member)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got["zh"] == totals["zh"]  # 16/16 keeps all
    for lang, p in (("en", 8), ("de", 8), ("es", 4), ("fr", 4)):
        # md5 uniformity: observed fraction near p/16 (loose band)
        f = got[lang] / totals[lang]
        assert abs(f - p / 16) < 0.15, (lang, f)
    # a stratum absent from the dict is dropped entirely
    member2 = stratified_membership_md5(
        F.col("lang"), F.col("doc_id"), {"en": 16}
    )
    langs = {r.lang for r in docs.filter(member2).select("lang").collect()}
    assert langs == {"en"}


def test_stratified_md5_rejects_bad_fraction(spark):
    import pytest

    from mysql_cdc_to_http_spark.operators.sampling import (
        stratified_membership_md5,
    )

    with pytest.raises(ValueError):
        stratified_membership_md5(F.col("x"), F.col("y"), {"en": 0})
    with pytest.raises(ValueError):
        stratified_membership_md5(F.col("x"), F.col("y"), {"en": 17})
