"""CDC surface queries (SURVEY.md §2.1 R1-R10) — batch column-pipeline
form, oracle-checkable.

Every query runs over the deterministic synthetic change-event feed
(sources/cdc.py, derived from ``orders``); each DuckDB oracle re-derives
the same events in SQL via the shared ``ev`` CTE, so the driver's
value-hash validates the whole reference dataflow: action filter → group
filter/routing → update pairing → type coercion → envelope → JSON →
extraction → file-source round trip.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from mysql_cdc_to_http_spark.catalog import load_table
from mysql_cdc_to_http_spark.operators import coercion
from mysql_cdc_to_http_spark.operators.envelope import (
    action_filter,
    extract_table_name,
    serialize,
)
from mysql_cdc_to_http_spark.operators.pairing import pair_updates
from mysql_cdc_to_http_spark.operators.routing import assign_group, group_filter
from mysql_cdc_to_http_spark.queries.registry import query
from mysql_cdc_to_http_spark.sources.cdc import (
    read_change_events,
    synthetic_change_events,
    write_event_files,
)

#: Shared oracle CTE mirroring sources/cdc.py:synthetic_change_events.
_EV = """
    WITH ev AS (
      SELECT CASE CAST(o_orderkey % 4 AS INT)
               WHEN 0 THEN 'orders' WHEN 1 THEN 'customer'
               WHEN 2 THEN 'widgets' ELSE 'audit_log' END AS tbl,
             CASE o_orderstatus WHEN 'O' THEN 'c' WHEN 'P' THEN 'u'
               ELSE 'd' END AS op,
             o_orderkey AS offset_id,
             o_totalprice, o_orderstatus, o_orderdate
      FROM orders
    )
"""


def _flat_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = synthetic_change_events(spark, sf_dir)
    return ev.select(
        F.col("source.table").alias("tbl"),
        "op",
        F.col("offset").alias("offset_id"),
        "before",
        "after",
        "ts_ms",
    )


# --------------------------------------------------------------------------
# R2 — event-action filter (main.go:58-60)
# --------------------------------------------------------------------------
@query(
    "q_action_filter",
    oracle=_EV
    + """
    SELECT op, CAST(COUNT(*) AS BIGINT) AS n,
           MIN(offset_id) AS min_offset, MAX(offset_id) AS max_offset
    FROM ev WHERE op IN ('c', 'u')
    GROUP BY op ORDER BY op
    """,
)
def q_action_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = action_filter(_flat_events(spark, sf_dir))
    return (
        ev.groupBy("op")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("offset_id").alias("min_offset"),
            F.max("offset_id").alias("max_offset"),
        )
        .orderBy("op")
    )


# --------------------------------------------------------------------------
# R3 — table-group membership filter (main.go:51-55)
# --------------------------------------------------------------------------
@query(
    "q_group_filter",
    oracle=_EV
    + """
    SELECT tbl, CAST(COUNT(*) AS BIGINT) AS n
    FROM ev
    WHERE tbl IN ('orders', 'lineitem', 'customer', 'supplier')
    GROUP BY tbl ORDER BY tbl
    """,
)
def q_group_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = group_filter(_flat_events(spark, sf_dir), table_col="tbl")
    return ev.groupBy("tbl").agg(F.count(F.lit(1)).alias("n")).orderBy("tbl")


# --------------------------------------------------------------------------
# R4 — routing-key assignment (main.go:105, 308-332)
# --------------------------------------------------------------------------
@query(
    "q_group_routing",
    oracle=_EV
    + """
    SELECT CASE WHEN tbl IN ('orders', 'lineitem') THEN 'grp_sales'
                ELSE 'grp_parties' END AS grp,
           tbl, CAST(COUNT(*) AS BIGINT) AS n
    FROM ev
    WHERE tbl IN ('orders', 'lineitem', 'customer', 'supplier')
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q_group_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = assign_group(_flat_events(spark, sf_dir), table_col="tbl")
    return (
        ev.groupBy("grp", "tbl").agg(F.count(F.lit(1)).alias("n")).orderBy("grp", "tbl")
    )


# --------------------------------------------------------------------------
# R5 — update before/after pairing (main.go:64-78)
# --------------------------------------------------------------------------
@query(
    "q_update_pairing",
    oracle=_EV
    + """
    SELECT offset_id, o_totalprice AS before_price,
           o_totalprice * CAST(1.1 AS DOUBLE) AS after_price
    FROM ev WHERE op = 'u' AND offset_id % 97 <> 0
    ORDER BY offset_id
    """,
)
def q_update_pairing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconstructs the raw binlog shape (update = two consecutive image
    rows, dangling before-image every 97th offset) and pairs via the
    window-lag operator; dangling rows drop like the reference's trailing
    odd row (main.go:71-73)."""
    u = (
        _flat_events(spark, sf_dir)
        .filter(F.col("op") == "u")
        .select("tbl", "offset_id", F.col("before.o_totalprice").alias("price"))
    )
    before_rows = u.select(
        "tbl",
        "offset_id",
        (F.col("offset_id") * 2).alias("seq"),
        F.lit(0).alias("img"),
        F.col("price"),
    )
    after_rows = u.filter(F.col("offset_id") % 97 != 0).select(
        "tbl",
        "offset_id",
        (F.col("offset_id") * 2 + 1).alias("seq"),
        F.lit(1).alias("img"),
        (F.col("price") * 1.1).alias("price"),
    )
    raw = before_rows.unionByName(after_rows)
    paired = pair_updates(
        raw,
        key_cols=["tbl", "offset_id"],
        seq_col="seq",
        img_col="img",
        value_cols=["price"],
    )
    return paired.select(
        "offset_id",
        F.col("before_price").alias("before_price"),
        F.col("after_price").alias("after_price"),
    )


# --------------------------------------------------------------------------
# R7 — full type-coercion matrix (main.go:125-209)
# --------------------------------------------------------------------------
@query(
    "q_type_coercion",
    oracle="""
    SELECT o_orderkey AS probe_id,
           o_orderpriority AS txt_plain,
           o_orderstatus AS txt_b64,
           strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') AS d_date,
           'x-' || o_orderpriority AS d_bad,
           (o_orderkey % 3 = 1) AS b_tiny,
           (o_orderkey % 5 = 0) AS b_str,
           (o_orderkey % 2 <> 0) AS b_bit,
           o_custkey AS i_n,
           o_totalprice AS f_n,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS dec_compat
    FROM orders ORDER BY o_orderkey
    """,
)
def q_type_coercion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Builds a probe table exercising every branch of the coercion matrix
    (FIXTURES.md §3) and applies the column library; the oracle states the
    *expected reference outputs* directly."""
    o = load_table(spark, sf_dir, "orders")
    probe = o.select(
        F.col("o_orderkey").alias("probe_id"),
        F.col("o_orderpriority").alias("txt_plain"),
        F.base64(F.col("o_orderstatus").cast("binary")).alias("txt_b64"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("d_date"),
        F.concat(F.lit("x-"), F.col("o_orderpriority")).alias("d_bad"),
        (F.col("o_orderkey") % 3).cast("int").alias("b_tiny"),
        F.when(F.col("o_orderkey") % 5 == 0, "true").otherwise("no").alias("b_str"),
        (F.col("o_orderkey") % 2).alias("b_bit"),
        F.col("o_custkey").cast("string").alias("i_n"),
        F.col("o_totalprice").alias("f_n"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("dec_compat"),
    )
    coerced = coercion.coerce(
        probe,
        {
            "txt_plain": "text",
            "txt_b64": "text",
            "d_date": "date",
            "d_bad": "date",
            "b_tiny": "tinyint_bool",
            "b_str": "tinyint_bool",
            "b_bit": "bit",
            "i_n": "int",
            "f_n": "float",
        },
    )
    return coerced.withColumn(
        "dec_compat", coercion.decimal_value(F.col("dec_compat"), compat=True)
    )


# --------------------------------------------------------------------------
# R7a — base64 heuristic decode (main.go:136-144)
# --------------------------------------------------------------------------
@query(
    "q_base64_decode",
    oracle="""
    SELECT c_custkey, c_name AS name_rt, c_name AS name_raw,
           c_mktsegment AS seg_rt
    FROM customer ORDER BY c_custkey
    """,
)
def q_base64_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trips base64 of known strings (decoded) and non-base64
    strings (passthrough — '#' in c_name makes it invalid)."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        coercion.decode_base64_text(
            F.base64(F.col("c_name").cast("binary"))
        ).alias("name_rt"),
        coercion.decode_base64_text(F.col("c_name")).alias("name_raw"),
        coercion.decode_base64_text(
            F.base64(F.col("c_mktsegment").cast("binary"))
        ).alias("seg_rt"),
    )


# --------------------------------------------------------------------------
# R7a + R7b + R7c + R7d — base64 heuristic decode (main.go:136-144),
# DATE → RFC 3339 (main.go:147-154), tinyint(1)/BIT → boolean
# (main.go:157-182), numeric narrowing (main.go:183-194).
# One query (all four matrices read `orders`) so every §2 coercion row
# fits inside the driver's 50-entry CORRECTNESS window. The standalone
# q_base64_decode below stays registered (pytest-oracle-checked) but
# outside the driver window — its slot went to q_stream_session.
# --------------------------------------------------------------------------
@query(
    "q_scalar_coercions",
    oracle="""
    SELECT o_orderkey,
           o_orderpriority AS b64_rt,
           o_orderpriority AS b64_raw,
           strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') AS rfc,
           o_orderpriority AS bad_passthrough,
           (o_orderkey % 3 = 1)  AS tiny_1,
           FALSE                 AS tiny_2,
           (o_orderkey % 5 = 0)  AS str_true,
           (o_orderkey % 2 <> 0) AS bit_val,
           o_custkey AS i64,
           o_totalprice AS f64,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS dec_exact,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS dec_compat
    FROM orders ORDER BY o_orderkey
    """,
)
def q_scalar_coercions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R7a/R7b/R7c/R7d in one pass over ``orders``: base64 heuristic
    decode (round-trip of encoded text + raw passthrough — the '-' in
    every o_orderpriority value fails the strict validity regex),
    RFC-3339 dates (with non-date passthrough), tinyint/BIT/string →
    bool, and numeric narrowing. ``dec_exact`` computes in exact DECIMAL
    but surfaces as DOUBLE (DECIMAL output columns hash-fail the driver
    gate even when values are equal)."""
    o = load_table(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(12,2)")
    return o.select(
        "o_orderkey",
        coercion.decode_base64_text(
            F.base64(F.col("o_orderpriority").cast("binary"))
        ).alias("b64_rt"),
        coercion.decode_base64_text(F.col("o_orderpriority")).alias("b64_raw"),
        coercion.date_to_rfc3339(
            F.date_format("o_orderdate", "yyyy-MM-dd")
        ).alias("rfc"),
        coercion.date_to_rfc3339(F.col("o_orderpriority")).alias("bad_passthrough"),
        coercion.tinyint_bool((F.col("o_orderkey") % 3).cast("int")).alias("tiny_1"),
        # tinyint value 2 → false (main.go:163: default branch)
        coercion.tinyint_bool(F.lit(2)).alias("tiny_2"),
        coercion.tinyint_bool(
            F.when(F.col("o_orderkey") % 5 == 0, "true").otherwise("no")
        ).alias("str_true"),
        coercion.bit_bool(F.col("o_orderkey") % 2).alias("bit_val"),
        coercion.narrow_int(F.col("o_custkey").cast("string")).alias("i64"),
        coercion.narrow_float(F.col("o_totalprice")).alias("f64"),
        coercion.decimal_value(F.col("o_totalprice"), 12, 2)
        .cast("double")
        .alias("dec_exact"),
        coercion.decimal_value(dec, compat=True).alias("dec_compat"),
    )


# --------------------------------------------------------------------------
# R8 — envelope construction (main.go:80-86)
# --------------------------------------------------------------------------
@query(
    "q_envelope",
    oracle=_EV
    + """
    SELECT offset_id, op, tbl,
           CASE WHEN op = 'c' THEN NULL ELSE o_totalprice END AS before_price,
           CASE WHEN op = 'd' THEN NULL
                WHEN op = 'u' THEN o_totalprice * CAST(1.1 AS DOUBLE)
                ELSE o_totalprice END AS after_price,
           CAST(epoch(o_orderdate) AS BIGINT) * 1000 AS ts_ms
    FROM ev ORDER BY offset_id
    """,
)
def q_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _flat_events(spark, sf_dir)
    return ev.select(
        "offset_id",
        "op",
        "tbl",
        F.col("before.o_totalprice").alias("before_price"),
        F.col("after.o_totalprice").alias("after_price"),
        "ts_ms",
    )


# --------------------------------------------------------------------------
# R9 + R10 — JSON serialization round-trip (main.go:88-92) and JSON field
# extraction w/ dead-letter fallback (main.go:421-430). One query (both
# read the same synthetic feed) so every §2 row fits inside the driver's
# 50-entry CORRECTNESS window.
# --------------------------------------------------------------------------
@query(
    "q_json_roundtrip",
    oracle=_EV
    + """
    SELECT offset_id, op AS op_j, tbl AS tbl_j,
           CASE WHEN op = 'd' THEN NULL
                WHEN op = 'u' THEN o_totalprice * CAST(1.1 AS DOUBLE)
                ELSE o_totalprice END AS after_price_j,
           CASE WHEN offset_id % 50 = 0 THEN 'unknown_table' ELSE tbl END
             AS tbl_extracted
    FROM ev ORDER BY offset_id
    """,
)
def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serializes each envelope with ``to_json`` and extracts fields back
    out of the JSON text — validating the full serialize→parse loop
    (doubles survive via shortest-repr round-trip). Every 50th payload is
    ALSO rebuilt WITHOUT a source field — the reference panics on those
    (main.go:428-429); the engine dead-letters them as 'unknown_table'.

    Round-11 perf: ONE ``from_json`` parse per payload (a projection
    pulling op/table/price out of the parsed struct) instead of three
    ``get_json_object`` calls that each re-parsed the full JSON text —
    same values (doubles take the same shortest-repr→binary path), a
    third of the parse work. The dead-letter twin keeps
    ``extract_table_name`` — the fallback semantics under test."""
    ev = synthetic_change_events(spark, sf_dir)
    full = serialize(
        F.struct("before", "after", "source", "op", "offset", "ts_ms")
    )
    no_source = serialize(F.struct("op", "offset"))
    maybe_broken = F.when(F.col("offset") % 50 == 0, no_source).otherwise(full)
    # Repartition the narrow (offset, payload) projection BEFORE the
    # parse: a small parquet file scans as one split, which would
    # serialize all JSON work on one core. Hash, not range (r13): the
    # presentation orderBy this range exchange used to pre-satisfy is
    # gone, so a range exchange would only add a sampling pass.
    with_payload = ev.select(
        F.col("offset").alias("offset_id"),
        full.alias("p"),
        maybe_broken.alias("p_maybe_broken"),
    ).repartition(
        spark.sparkContext.defaultParallelism, "offset_id"
    )
    parsed_schema = (
        "op STRING, source STRUCT<table: STRING>,"
        " after STRUCT<o_totalprice: DOUBLE>"
    )
    parsed = with_payload.select(
        "offset_id",
        F.from_json("p", parsed_schema).alias("j"),
        "p_maybe_broken",
    )
    return parsed.select(
        "offset_id",
        F.col("j.op").alias("op_j"),
        F.col("j.source.table").alias("tbl_j"),
        F.col("j.after.o_totalprice").alias("after_price_j"),
        extract_table_name(F.col("p_maybe_broken")).alias("tbl_extracted"),
    )


# --------------------------------------------------------------------------
# R1 — CDC file-source round trip (semantics of main.go:459-483)
# --------------------------------------------------------------------------
@query(
    "q_cdc_source_roundtrip",
    oracle=_EV
    + """
    SELECT tbl, op, CAST(COUNT(*) AS BIGINT) AS n,
           MIN(offset_id) AS min_offset, MAX(offset_id) AS max_offset,
           CAST(SUM(CAST(epoch(o_orderdate) AS BIGINT) * 1000) AS BIGINT)
             AS sum_ts
    FROM ev GROUP BY tbl, op ORDER BY tbl, op
    """,
)
def q_cdc_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materializes the feed as JSON-line files and reads it back through
    the schema'd file source — the batch twin of the streaming source used
    in tests (offsets, envelopes, ordering preserved; wire protocol out of
    scope per SURVEY §7)."""
    events_dir = write_event_files(spark, sf_dir)
    ev = read_change_events(spark, events_dir)
    return (
        ev.groupBy(F.col("source.table").alias("tbl"), "op")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("offset").alias("min_offset"),
            F.max("offset").alias("max_offset"),
            F.sum("ts_ms").alias("sum_ts"),
        )
        .orderBy("tbl", "op")
    )


# --------------------------------------------------------------------------
# snapshot diff: reverse CDC (two snapshots -> change stream)
# --------------------------------------------------------------------------
def _diff_snapshots(spark: SparkSession, sf_dir: str):
    """(old, new) orders snapshots with deterministic key-derived churn:
    every 97th key deleted, every 11th updated (status 'X', price +1.5),
    every 89th re-inserted under key+10M ('N'). SQL-mirrored in the
    oracle, so the value check covers fixture + operator."""
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = (
        base.filter(F.col("o_orderkey") % 97 != 0)
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 11 == 0, F.lit("X"))
            .otherwise(F.col("o_orderstatus"))
            .alias("o_orderstatus"),
            F.when(
                F.col("o_orderkey") % 11 == 0, F.col("o_totalprice") + 1.5
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
        .unionByName(
            base.filter(F.col("o_orderkey") % 89 == 0).select(
                (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
                F.lit("N").alias("o_orderstatus"),
                F.col("o_totalprice"),
            )
        )
    )
    return base, new


@query(
    "q_snapshot_diff",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    ),
    new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 11 = 0 THEN 'X' ELSE o_orderstatus END
               AS o_orderstatus,
             CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 1.5
                  ELSE o_totalprice END AS o_totalprice
      FROM base WHERE o_orderkey % 97 != 0
      UNION ALL
      SELECT o_orderkey + 10000000, 'N', o_totalprice
      FROM base WHERE o_orderkey % 89 = 0
    )
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN n.o_orderkey IS NULL THEN 'delete'
                WHEN o.o_orderkey IS NULL THEN 'insert'
                ELSE 'update' END AS action,
           o.o_orderstatus AS old_o_orderstatus,
           n.o_orderstatus AS new_o_orderstatus,
           o.o_totalprice AS old_o_totalprice,
           n.o_totalprice AS new_o_totalprice
    FROM base o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE n.o_orderkey IS NULL OR o.o_orderkey IS NULL
       OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
       OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
    ORDER BY o_orderkey
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reverse CDC: derive the insert/update/delete stream between two
    snapshots of `orders` (operators/diff.py:snapshot_diff) — what a
    batch pipeline runs when no binlog exists (reconciliation, backfill
    bootstrap). Uses the reference's action vocabulary so the output
    can feed the same envelope builder as the live CDC source. One
    co-partitioned full-outer join + a null-safe change projection;
    unchanged rows (the vast majority) never leave the stage."""
    from mysql_cdc_to_http_spark.operators.diff import snapshot_diff

    old, new = _diff_snapshots(spark, sf_dir)
    return snapshot_diff(
        old, new, ["o_orderkey"], ["o_orderstatus", "o_totalprice"]
    )


# --------------------------------------------------------------------------
# incremental join-view maintenance (IVM)
# --------------------------------------------------------------------------
def _cust_churn(base: DataFrame) -> DataFrame:
    """customer churn fixture: every 13th customer changes segment,
    every 131st is deleted — key-derived, SQL-mirrored in the oracle."""
    return base.filter(F.col("c_custkey") % 131 != 0).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 13 == 0, F.lit("MOVED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    )


@query(
    "q_incremental_join",
    oracle="""
    WITH o_new AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 11 = 0 THEN 'X' ELSE o_orderstatus END
               AS o_orderstatus,
             CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 1.5
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 97 != 0
    ),
    c_new AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 13 = 0 THEN 'MOVED'
                  ELSE c_mktsegment END AS c_mktsegment
      FROM customer WHERE c_custkey % 131 != 0
    )
    SELECT o_orderstatus, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           round(CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE),
                 2) AS total
    FROM o_new JOIN c_new ON o_custkey = c_custkey
    GROUP BY o_orderstatus, c_mktsegment
    ORDER BY o_orderstatus, c_mktsegment
    """,
)
def q_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental join-view maintenance: the materialized
    orders⋈customer view is updated under churn on BOTH sides (the
    q_snapshot_diff orders churn + a customer segment-move/delete
    fixture) by operators/diff.py:maintain_joined_view — J_old minus
    broadcast-anti touched keys, plus a delta-sized rebuild joined
    against the new dim. The oracle recomputes the post-churn join from
    scratch: equality proves the incremental path reproduces the full
    recompute (also property-tested row-exactly in
    tests/test_cdc_semantics.py). Exact DECIMAL sums per q_agg_q1's
    cross-engine rule."""
    from mysql_cdc_to_http_spark.operators.diff import maintain_joined_view

    o_old = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    c_old = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    # same churn rules as _diff_snapshots applied to the full orders
    # payload (delete %97, update %11; the diff fixture's key+10M
    # inserts are omitted — they carry no customer reference)
    o_new = o_old.filter(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey",
        "o_custkey",
        F.when(F.col("o_orderkey") % 11 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        F.when(F.col("o_orderkey") % 11 == 0, F.col("o_totalprice") + 1.5)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    c_new = _cust_churn(c_old)
    j_old = o_old.join(
        c_old, o_old["o_custkey"] == c_old["c_custkey"]
    ).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "c_mktsegment",
    )
    da = o_old.select("o_orderkey").filter(
        (F.col("o_orderkey") % 97 == 0) | (F.col("o_orderkey") % 11 == 0)
    )
    db = (
        c_old.select("c_custkey")
        .filter(
            (F.col("c_custkey") % 131 == 0) | (F.col("c_custkey") % 13 == 0)
        )
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    c_new_j = c_new.select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    j_new = maintain_joined_view(
        j_old, o_new, c_new_j, da, db, "o_orderkey", "o_custkey"
    )
    return (
        j_new.groupBy("o_orderstatus", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(14,2)")).cast(
                    "double"
                ),
                2,
            ).alias("total"),
        )
        .orderBy("o_orderstatus", "c_mktsegment")
    )


# --------------------------------------------------------------------------
# X209 — Spark 4 Python DataSource connector: the envelope feed mounted
# as a first-class spark.read.format("graft_cdc") source.
# --------------------------------------------------------------------------
@query(
    "q_python_datasource",
    oracle=_EV
    + """
    SELECT tbl, op, CAST(COUNT(*) AS BIGINT) AS n,
           MIN(offset_id) AS min_offset, MAX(offset_id) AS max_offset
    FROM ev
    GROUP BY tbl, op ORDER BY tbl, op
    """,
)
def q_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X209 — the CDC feed read through a CUSTOM connector built on
    Spark 4's Python DataSource API (sources/pyds.py): schema +
    file-per-partition planning + per-partition line readers, i.e. the
    reference's purpose-built input connector (main.go canal handler)
    re-expressed at Spark's connector seam rather than as a path glob.
    Envelope JSON is parsed DOWNSTREAM with the engine's existing
    schema (transport and schema-on-read stay layered, like the
    reference). The oracle reconstructs the same per-(table, op)
    counts and offset ranges from the source-of-truth table, so the
    hash certifies the connector delivered every line of every file
    exactly once — partition planning included."""
    from mysql_cdc_to_http_spark.sources import pyds
    from mysql_cdc_to_http_spark.sources.cdc import (
        ENVELOPE_SCHEMA,
        write_event_files,
    )

    events_dir = write_event_files(spark, sf_dir)
    pyds.register(spark)
    raw = (
        spark.read.format("graft_cdc")
        .option("path", os.path.join(events_dir, "data"))
        .load()
    )
    env = raw.select(
        F.from_json(F.col("value"), ENVELOPE_SCHEMA).alias("e")
    ).select(
        F.col("e.source.table").alias("tbl"),
        F.col("e.op").alias("op"),
        F.col("e.offset").alias("offset_id"),
    )
    return (
        env.groupBy("tbl", "op")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("offset_id").alias("min_offset"),
            F.max("offset_id").alias("max_offset"),
        )
        .orderBy("tbl", "op")
    )


# --------------------------------------------------------------------------
# X235 — deterministic-sample maintenance under churn: because md5
# sample membership is a pure function of the KEY, a sampled view is
# incrementally maintainable by applying only the sample's slice of
# the snapshot diff — the CDC x sampling bridge, next to X94 (joined
# view) and X228 (ANN index). The oracle rebuilds the post-churn
# sample from scratch; hash parity proves incremental == rebuild.
# --------------------------------------------------------------------------
@query(
    "q_sample_maintenance",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    ),
    new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 11 = 0 THEN 'X' ELSE o_orderstatus END
               AS o_orderstatus,
             CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 1.5
                  ELSE o_totalprice END AS o_totalprice
      FROM base WHERE o_orderkey % 97 != 0
      UNION ALL
      SELECT o_orderkey + 10000000, 'N', o_totalprice
      FROM base WHERE o_orderkey % 89 = 0
    ),
    sampled AS (
      SELECT * FROM new
      WHERE ('0x' || substr(md5('smv-v1|' || CAST(o_orderkey AS VARCHAR)),
                            1, 6))::INTEGER % 100 < 20
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           round(CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE),
                 2) AS total
    FROM sampled GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def q_sample_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X235 — maintain a 20% md5 sample of orders as a VIEW under the
    X87 churn (delete %97, update %11, insert %89 under key+10M)
    WITHOUT rescanning the base table: membership is a pure function
    of the key (operators/sampling.py:split_bucket), so the update
    rule is exactly ``apply_diff`` over the SAMPLE-member slice of the
    ``snapshot_diff`` change set — delta-sized work, like X94's joined
    view and X228's ANN index. The oracle recomputes the post-churn
    sample from scratch; hash parity proves the maintenance algebra
    (and the per-status rollup surfaces every churn class: 'X' rows
    are the updates that stayed sampled, 'N' rows the inserts that
    drew into the sample, deletions leave by count).

    A seeded-RNG sample could NOT be maintained this way — membership
    of unchanged rows would depend on scan order/partitioning. Key-
    hash membership is what makes the sample a maintainable view; the
    row-exact incremental==rebuild identity is also property-tested.
    Exact DECIMAL sums per q_agg_q1's cross-engine rule."""
    from mysql_cdc_to_http_spark.operators.diff import (
        apply_diff,
        snapshot_diff,
    )
    from mysql_cdc_to_http_spark.operators.sampling import split_bucket

    old, new = _diff_snapshots(spark, sf_dir)
    in_sample = (
        lambda col: split_bucket(col, 100, salt="smv-v1") < 20
    )
    sample_v1 = old.filter(in_sample(F.col("o_orderkey")))
    changes = snapshot_diff(
        old, new, ["o_orderkey"], ["o_orderstatus", "o_totalprice"]
    )
    sample_changes = changes.filter(in_sample(F.col("o_orderkey")))
    maintained = apply_diff(
        sample_v1,
        sample_changes,
        ["o_orderkey"],
        ["o_orderstatus", "o_totalprice"],
    )
    return (
        maintained.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(14,2)")).cast(
                    "double"
                ),
                2,
            ).alias("total"),
        )
        .orderBy("o_orderstatus")
    )
