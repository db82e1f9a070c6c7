"""Data-profiling / data-quality queries (round 6, beyond-survey):
per-column table profiling, referential-integrity auditing, and
sequence-length distribution — the checks a training-data pipeline runs
before it trusts a new drop of data.

All three are declarative one-pass plans: the profile is a single
multi-aggregate over the table unpivoted to long form, the integrity
audit is a set of anti-join counts (each a broadcast or shuffle join
Catalyst picks by side size), and the histogram is one two-phase agg on
a derived bucket key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from mysql_cdc_to_http_spark.catalog import load_table
from mysql_cdc_to_http_spark.queries.registry import query


@query(
    "q_table_profile",
    oracle="""
    WITH s AS (
      SELECT
        CAST(count(*) AS BIGINT) AS n_rows,
        CAST(count(*) - count(o_orderkey)    AS BIGINT) AS nn_orderkey,
        CAST(count(*) - count(o_custkey)     AS BIGINT) AS nn_custkey,
        CAST(count(*) - count(o_orderstatus) AS BIGINT) AS nn_status,
        CAST(count(*) - count(o_totalprice)  AS BIGINT) AS nn_price,
        CAST(count(*) - count(o_orderdate)   AS BIGINT) AS nn_date,
        CAST(count(DISTINCT o_orderkey)    AS BIGINT) AS nd_orderkey,
        CAST(count(DISTINCT o_custkey)     AS BIGINT) AS nd_custkey,
        CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS nd_status,
        CAST(count(DISTINCT o_totalprice)  AS BIGINT) AS nd_price,
        CAST(count(DISTINCT o_orderdate)   AS BIGINT) AS nd_date,
        CAST(min(o_orderkey) AS DOUBLE) AS mn_orderkey,
        CAST(max(o_orderkey) AS DOUBLE) AS mx_orderkey,
        CAST(min(o_custkey) AS DOUBLE) AS mn_custkey,
        CAST(max(o_custkey) AS DOUBLE) AS mx_custkey,
        min(o_totalprice) AS mn_price,
        max(o_totalprice) AS mx_price,
        CAST(epoch(min(o_orderdate)) AS DOUBLE) AS mn_date,
        CAST(epoch(max(o_orderdate)) AS DOUBLE) AS mx_date
      FROM orders
    )
    SELECT col_name, n_rows, n_nulls, n_distinct, min_num, max_num
    FROM (
      SELECT 'o_orderkey' AS col_name, n_rows, nn_orderkey AS n_nulls,
             nd_orderkey AS n_distinct, mn_orderkey AS min_num,
             mx_orderkey AS max_num FROM s
      UNION ALL
      SELECT 'o_custkey', n_rows, nn_custkey, nd_custkey,
             mn_custkey, mx_custkey FROM s
      UNION ALL
      SELECT 'o_orderstatus', n_rows, nn_status, nd_status,
             NULL, NULL FROM s
      UNION ALL
      SELECT 'o_totalprice', n_rows, nn_price, nd_price,
             mn_price, mx_price FROM s
      UNION ALL
      SELECT 'o_orderdate', n_rows, nn_date, nd_date,
             mn_date, mx_date FROM s
    )
    ORDER BY col_name
    """,
)
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile of ``orders`` in ONE aggregation pass: row
    count, null count, exact distinct count, numeric/timestamp min-max
    (timestamps as epoch seconds; strings carry NULL bounds — min/max of
    parquet-read values is arithmetic-free, so no cross-engine rounding
    is needed). The multi-distinct agg compiles to Catalyst's Expand —
    one shuffle of (n_profiled_cols)× rows, the same volume an explicit
    unpivot would shuffle; at 100 TB swap exact distincts for
    ``approx_count_distinct`` (mergeable, no Expand) when ±2% suffices
    — the exact form here is what the oracle can value-check.
    Long-form output via stack() so adding columns never changes the
    schema."""
    o = load_table(spark, sf_dir, "orders")
    nul = lambda c: F.sum(F.col(c).isNull().cast("long"))  # noqa: E731
    agg = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            x
            for c in (
                "o_orderkey",
                "o_custkey",
                "o_orderstatus",
                "o_totalprice",
                "o_orderdate",
            )
            for x in (
                nul(c).alias(f"nn_{c}"),
                F.countDistinct(c).alias(f"nd_{c}"),
            )
        ],
        F.min("o_orderkey").cast("double").alias("mn_o_orderkey"),
        F.max("o_orderkey").cast("double").alias("mx_o_orderkey"),
        F.min("o_custkey").cast("double").alias("mn_o_custkey"),
        F.max("o_custkey").cast("double").alias("mx_o_custkey"),
        F.min("o_totalprice").alias("mn_o_totalprice"),
        F.max("o_totalprice").alias("mx_o_totalprice"),
        F.unix_timestamp(F.min("o_orderdate"))
        .cast("double")
        .alias("mn_o_orderdate"),
        F.unix_timestamp(F.max("o_orderdate"))
        .cast("double")
        .alias("mx_o_orderdate"),
    )
    stack = """stack(5,
        'o_orderkey',    nn_o_orderkey,    nd_o_orderkey,
                         mn_o_orderkey,    mx_o_orderkey,
        'o_custkey',     nn_o_custkey,     nd_o_custkey,
                         mn_o_custkey,     mx_o_custkey,
        'o_orderstatus', nn_o_orderstatus, nd_o_orderstatus,
                         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        'o_totalprice',  nn_o_totalprice,  nd_o_totalprice,
                         mn_o_totalprice,  mx_o_totalprice,
        'o_orderdate',   nn_o_orderdate,   nd_o_orderdate,
                         mn_o_orderdate,   mx_o_orderdate
    ) AS (col_name, n_nulls, n_distinct, min_num, max_num)"""
    return (
        agg.select("n_rows", F.expr(stack))
        .select(
            "col_name", "n_rows", "n_nulls", "n_distinct", "min_num", "max_num"
        )
        .orderBy("col_name")
    )


@query(
    "q_referential_integrity",
    oracle="""
    SELECT * FROM (
      SELECT 'lineitem.l_orderkey->orders' AS relationship,
             CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_checked,
             CAST((SELECT count(*) FROM lineitem l
                   ANTI JOIN orders o ON l.l_orderkey = o.o_orderkey)
                  AS BIGINT) AS n_orphans
      UNION ALL
      SELECT 'orders.o_custkey->customer',
             CAST((SELECT count(*) FROM orders) AS BIGINT),
             CAST((SELECT count(*) FROM orders o
                   ANTI JOIN customer c ON o.o_custkey = c.c_custkey)
                  AS BIGINT)
      UNION ALL
      SELECT 'lineitem.l_suppkey->supplier',
             CAST((SELECT count(*) FROM lineitem) AS BIGINT),
             CAST((SELECT count(*) FROM lineitem l
                   ANTI JOIN supplier s ON l.l_suppkey = s.s_suppkey)
                  AS BIGINT)
      UNION ALL
      SELECT 'orders.o_custkey->customer[BUILDING]',
             CAST((SELECT count(*) FROM orders) AS BIGINT),
             CAST((SELECT count(*) FROM orders o
                   ANTI JOIN (SELECT c_custkey FROM customer
                              WHERE c_mktsegment = 'BUILDING') c
                   ON o.o_custkey = c.c_custkey) AS BIGINT)
    )
    ORDER BY relationship
    """,
)
def q_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key audit as anti-join counts: rows of the child table
    whose key has no parent. The three natural FKs must report zero
    orphans on clean testdata (the oracle proves the zeros are REAL
    zero counts, not vacuous passes); the narrowed-parent variant
    (customers restricted to one segment) exercises the operator where
    orphans genuinely exist. Scale shape: each check is one anti-join —
    dims broadcast, fact-fact anti-joins shuffle on the key; checks are
    independent so a pipeline runs them in one job (unioned here) and
    Spark schedules the shared scans once per table via exchange
    reuse."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")

    def check(name: str, child: DataFrame, parent: DataFrame, on) -> DataFrame:
        return (
            child.agg(F.count(F.lit(1)).alias("n_checked"))
            .crossJoin(
                child.join(parent, on, "left_anti").agg(
                    F.count(F.lit(1)).alias("n_orphans")
                )
            )
            .select(
                F.lit(name).alias("relationship"), "n_checked", "n_orphans"
            )
        )

    out = (
        check(
            "lineitem.l_orderkey->orders",
            li,
            o,
            li["l_orderkey"] == o["o_orderkey"],
        )
        .unionByName(
            check(
                "orders.o_custkey->customer",
                o,
                cust,
                o["o_custkey"] == cust["c_custkey"],
            )
        )
        .unionByName(
            check(
                "lineitem.l_suppkey->supplier",
                li,
                supp,
                li["l_suppkey"] == supp["s_suppkey"],
            )
        )
        .unionByName(
            check(
                "orders.o_custkey->customer[BUILDING]",
                o,
                cust.filter(F.col("c_mktsegment") == "BUILDING"),
                o["o_custkey"] == cust["c_custkey"],
            )
        )
    )
    return out.orderBy("relationship")


@query(
    "q_length_histogram",
    oracle="""
    WITH n AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    b AS (
      SELECT (n_tokens // 10) * 10 AS bucket_lo, count(*) AS n_docs
      FROM n GROUP BY 1
    )
    SELECT CAST(bucket_lo AS BIGINT) AS bucket_lo,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_docs AS DOUBLE)
             / (SELECT count(*) FROM documents) AS share
    FROM b ORDER BY bucket_lo
    """,
)
def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length distribution — the first chart anyone draws over
    a training corpus: whitespace-token counts bucketed to width 10,
    with each bucket's share of all docs. Two-phase agg on the derived
    bucket key (map-side partial, ~dozens of groups shuffle); the share
    divides two exact integers so both engines produce identical
    doubles. Token counts use a bare single-space split on BOTH engines
    (not the \\s+-normalizing tokenizer) so the oracle expression is
    the same function of the same bytes."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.select(
        F.size(F.split(F.col("text"), " ", -1)).cast("long").alias("n_tokens")
    )
    total = docs.count()
    return (
        n.groupBy(
            ((F.col("n_tokens") / 10).cast("long") * 10).alias("bucket_lo")
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            "bucket_lo",
            "n_docs",
            (F.col("n_docs").cast("double") / F.lit(float(total))).alias(
                "share"
            ),
        )
        .orderBy("bucket_lo")
    )


@query(
    "q_retention_cohorts",
    oracle="""
    WITH w AS (
      SELECT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk
      FROM events
    ),
    cohort AS (
      SELECT user_id, min(wk) AS cohort_wk FROM w GROUP BY user_id
    )
    SELECT c.cohort_wk,
           CAST(date_diff('day', c.cohort_wk, w.wk) // 7 AS BIGINT)
             AS weeks_since,
           CAST(count(DISTINCT w.user_id) AS BIGINT) AS n_active
    FROM w JOIN cohort c USING (user_id)
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: each user joins the cohort of their
    first active week; the grid counts distinct users active k weeks
    later — the standard engagement triangle. Two shuffles, both on
    user_id (the min-week agg and the join co-partition, so Catalyst
    reuses the exchange), then a distinct-count per (cohort, offset) on
    a grid-sized key space. Week deltas are computed as exact day
    arithmetic over week-truncated stamps (``datediff // 7``) so both
    engines agree without calendar-week-boundary semantics."""
    ev = load_table(spark, sf_dir, "events")
    w = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    )
    cohort = w.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (
        w.join(cohort, "user_id")
        .groupBy(
            "cohort_wk",
            (F.datediff(F.col("wk"), F.col("cohort_wk")) / 7)
            .cast("long")
            .alias("weeks_since"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
        .orderBy("cohort_wk", "weeks_since")
    )


# --------------------------------------------------------------------------
# X92 — grouped outlier detection (z-score)
# --------------------------------------------------------------------------
@query(
    "q_outliers",
    oracle="""
    WITH stats AS (
      SELECT user_id, avg(value) AS mu, stddev_samp(value) AS sigma
      FROM events GROUP BY user_id
    )
    SELECT e.event_id, e.user_id,
           round((e.value - s.mu) / s.sigma, 4) AS z
    FROM events e JOIN stats s USING (user_id)
    WHERE abs((e.value - s.mu) / s.sigma) > 3.0
    ORDER BY e.event_id
    """,
)
def q_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-value outliers (|z| > 3) — the data-quality screen
    a profiling pass feeds (events.value has a genuine tail: max |z|
    ≈ 5.8, unlike the uniform acctbal columns where 2.5σ is empty by
    construction). Scale shape: per-user mean/stddev is one two-phase
    aggregate producing a key-count-sized stats table that broadcasts
    back — the event stream itself shuffles once (for the stats agg) and
    the scoring join adds none. Float argument (same as q_subquery's avg
    filter): the 3σ cut only misclassifies a row within FP-noise of the
    boundary, astronomically unlikely for continuous values; round(z,4)
    after the cut is display-stable."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    stats = ev.groupBy("user_id").agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sigma"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        ev.join(F.broadcast(stats), "user_id")
        .filter(F.abs(z) > 3.0)
        .select("event_id", "user_id", F.round(z, 4).alias("z"))
        
    )


@query(
    "q_shard_manifest",
    oracle="""
    WITH s AS (
      SELECT ('0x' || substr(md5('shard-v1|' || CAST(doc_id AS VARCHAR)),
                             1, 6))::INTEGER % 16 AS shard,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               AS id60
      FROM documents
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(bit_xor(id60) AS BIGINT) AS content_xor
    FROM s GROUP BY shard ORDER BY shard
    """,
)
def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded-export manifest (operators/layout.py:shard_manifest):
    per-shard row count + order-independent XOR content checksum under
    the deterministic md5 shard assignment (``split_bucket``). The
    auditor's view of a training-data delivery — any engine with md5
    recomputes membership AND checksum from the shard files alone, so
    the oracle proves the full manifest bit-for-bit (XOR of 60-bit md5
    prefixes: commutative, overflow-free, single-row-sensitive).

    The write path itself (one file per shard directory, balanced
    sizes, partition-invariant reruns) is covered in test_layout.py."""
    from mysql_cdc_to_http_spark.operators.layout import shard_manifest

    docs = load_table(spark, sf_dir, "documents")
    return shard_manifest(docs, "doc_id", n_shards=16)


# --------------------------------------------------------------------------
# X250 — snapshot profile drift: diff the column profiles of two table
# snapshots (the X87 churn fixture) into one (column, metric,
# old/new/changed) report — the data-contract alarm that catches a
# NEW enum value, a shifted key range, or a changed row count BEFORE a
# downstream job does. The string-domain fingerprint (md5 of the
# sorted distinct values) detects domain drift at constant output
# width however large the domain — the profile analog of X226's
# sketch-vs-co-scan argument. All values render as deterministic
# strings (integers, cents, md5) so the diff itself is hash-exact.
# --------------------------------------------------------------------------
@query(
    "q_profile_drift",
    oracle="""
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    ),
    new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 11 = 0 THEN 'X' ELSE o_orderstatus END
               AS o_orderstatus,
             CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 1.5
                  ELSE o_totalprice END AS o_totalprice
      FROM old WHERE o_orderkey % 97 != 0
      UNION ALL
      SELECT o_orderkey + 10000000, 'N', o_totalprice
      FROM old WHERE o_orderkey % 89 = 0
    ),
    po AS (
      SELECT CAST(count(*) AS VARCHAR) AS m_rows,
             CAST(count(DISTINCT o_orderkey) AS VARCHAR) AS m_key_distinct,
             CAST(min(o_orderkey) AS VARCHAR) AS m_key_min,
             CAST(max(o_orderkey) AS VARCHAR) AS m_key_max,
             CAST(count(DISTINCT o_orderstatus) AS VARCHAR)
               AS m_status_distinct,
             md5(string_agg(DISTINCT o_orderstatus, '|' ORDER BY
                            o_orderstatus)) AS m_status_domain,
             CAST(min(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS VARCHAR) AS m_price_min_cents,
             CAST(max(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS VARCHAR) AS m_price_max_cents,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS VARCHAR) AS m_price_sum_cents
      FROM old
    ),
    pn AS (
      SELECT CAST(count(*) AS VARCHAR) AS m_rows,
             CAST(count(DISTINCT o_orderkey) AS VARCHAR) AS m_key_distinct,
             CAST(min(o_orderkey) AS VARCHAR) AS m_key_min,
             CAST(max(o_orderkey) AS VARCHAR) AS m_key_max,
             CAST(count(DISTINCT o_orderstatus) AS VARCHAR)
               AS m_status_distinct,
             md5(string_agg(DISTINCT o_orderstatus, '|' ORDER BY
                            o_orderstatus)) AS m_status_domain,
             CAST(min(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS VARCHAR) AS m_price_min_cents,
             CAST(max(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS VARCHAR) AS m_price_max_cents,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS VARCHAR) AS m_price_sum_cents
      FROM new
    ),
    uo AS (
      SELECT k.metric, CASE k.metric
        WHEN 'rows' THEN po.m_rows
        WHEN 'key_distinct' THEN po.m_key_distinct
        WHEN 'key_min' THEN po.m_key_min
        WHEN 'key_max' THEN po.m_key_max
        WHEN 'status_distinct' THEN po.m_status_distinct
        WHEN 'status_domain' THEN po.m_status_domain
        WHEN 'price_min_cents' THEN po.m_price_min_cents
        WHEN 'price_max_cents' THEN po.m_price_max_cents
        WHEN 'price_sum_cents' THEN po.m_price_sum_cents END AS old_value,
        CASE k.metric
        WHEN 'rows' THEN pn.m_rows
        WHEN 'key_distinct' THEN pn.m_key_distinct
        WHEN 'key_min' THEN pn.m_key_min
        WHEN 'key_max' THEN pn.m_key_max
        WHEN 'status_distinct' THEN pn.m_status_distinct
        WHEN 'status_domain' THEN pn.m_status_domain
        WHEN 'price_min_cents' THEN pn.m_price_min_cents
        WHEN 'price_max_cents' THEN pn.m_price_max_cents
        WHEN 'price_sum_cents' THEN pn.m_price_sum_cents END AS new_value
      FROM (VALUES ('rows'), ('key_distinct'), ('key_min'), ('key_max'),
                   ('status_distinct'), ('status_domain'),
                   ('price_min_cents'), ('price_max_cents'),
                   ('price_sum_cents')) AS k(metric),
           po, pn
    )
    SELECT metric, old_value, new_value,
           (old_value != new_value) AS changed
    FROM uo ORDER BY metric
    """,
)
def q_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X250 — column-profile diff between the pre- and post-churn
    orders snapshots: rows, key cardinality/range, status domain
    (md5 fingerprint of the sorted distinct set), price range/sum in
    exact cents — one (metric, old, new, changed) row each.

    Determinism: every metric is an integer count/extreme or an md5
    of a sorted '|'-joined domain (ORDER BY inside string_agg /
    sorted collect_set — both engines state the order explicitly);
    prices go through the house cents cast before aggregation. Scale
    shape: each snapshot reduces in ONE two-phase aggregate (the
    distinct counts ride Spark's expand, still map-side partial);
    everything after runs on two 1-row profiles unpivoted to 9 rows.
    The churn rules mirror _diff_snapshots (queries/cdc.py:459) so
    the fixture is SQL-stated in both engines. Reference analog:
    main.go has no profiling surface; table metadata stops at column
    names (main.go:249-255).
    """
    from mysql_cdc_to_http_spark.queries.cdc import _diff_snapshots

    old, new = _diff_snapshots(spark, sf_dir)

    def profile(df: DataFrame) -> DataFrame:
        cents = F.expr(
            "CAST(round(o_totalprice * 100) AS BIGINT)"
        )
        return df.agg(
            F.count(F.lit(1)).cast("string").alias("rows"),
            F.countDistinct("o_orderkey").cast("string").alias(
                "key_distinct"
            ),
            F.min("o_orderkey").cast("string").alias("key_min"),
            F.max("o_orderkey").cast("string").alias("key_max"),
            F.countDistinct("o_orderstatus").cast("string").alias(
                "status_distinct"
            ),
            F.md5(
                F.concat_ws(
                    "|", F.array_sort(F.collect_set("o_orderstatus"))
                )
            ).alias("status_domain"),
            F.min(cents).cast("string").alias("price_min_cents"),
            F.max(cents).cast("string").alias("price_max_cents"),
            F.sum(cents).cast("string").alias("price_sum_cents"),
        )

    metrics = (
        "rows",
        "key_distinct",
        "key_min",
        "key_max",
        "status_distinct",
        "status_domain",
        "price_min_cents",
        "price_max_cents",
        "price_sum_cents",
    )
    stack = ", ".join(f"'{m}', {m}" for m in metrics)
    po = profile(old).select(
        F.expr(f"stack({len(metrics)}, {stack})").alias(
            "metric", "old_value"
        )
    )
    pn = profile(new).select(
        F.expr(f"stack({len(metrics)}, {stack})").alias(
            "metric", "new_value"
        )
    )
    return (
        po.join(pn, "metric")
        .select(
            "metric",
            "old_value",
            "new_value",
            (F.col("old_value") != F.col("new_value")).alias("changed"),
        )
        .orderBy("metric")
    )
