"""Feature-engineering & corpus-statistics queries (round-6 fourth
wave): per-group feature normalization, PSI drift detection, PMI
collocation mining, and tokenizer-vocabulary coverage.

These are the passes that sit between curation and training: normalize
numeric features for the model, gate on distribution drift between two
corpus slices, mine collocations for tokenizer/phrase decisions, and
size the vocabulary against corpus coverage. All oracle-checked; each
docstring carries the determinism argument.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from mysql_cdc_to_http_spark.catalog import load_table
from mysql_cdc_to_http_spark.operators import caching
from mysql_cdc_to_http_spark.queries.registry import query


@query(
    "q_feature_scale",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qs1,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
               * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qs2,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS ps1,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS ps2,
        MIN(l_quantity) AS qmin, MAX(l_quantity) AS qmax,
        MIN(l_extendedprice) AS pmin, MAX(l_extendedprice) AS pmax,
        COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag
    ), st AS (
      SELECT l_returnflag,
             qs1 / n AS qmean, sqrt((qs2 - qs1*qs1/n) / (n-1)) AS qstd,
             ps1 / n AS pmean, sqrt((ps2 - ps1*ps1/n) / (n-1)) AS pstd,
             qmin, qmax, pmin, pmax
      FROM s
    )
    SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
           round((l_quantity - qmean) / qstd, 6) AS l_quantity_z,
           round(CASE WHEN qmax - qmin <> 0
                 THEN (l_quantity - qmin) / (qmax - qmin) END, 6)
             AS l_quantity_mm,
           round((l_extendedprice - pmean) / pstd, 6) AS l_extendedprice_z,
           round(CASE WHEN pmax - pmin <> 0
                 THEN (l_extendedprice - pmin) / (pmax - pmin) END, 6)
             AS l_extendedprice_mm
    FROM lineitem l JOIN st USING (l_returnflag)
    ORDER BY l_orderkey, l_linenumber
    """,
)
def q_feature_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group feature normalization (operators/features.py:
    normalize_features): z-score + min-max for two lineitem measures,
    statistics per l_returnflag. The stats table (3 rows) broadcasts
    back onto the fact stream — one fact shuffle total (the stats
    aggregate's partials; the join itself is broadcast, plan-tested).

    Parity is EXACT, not tolerance-based: the 2-decimal inputs sum
    through DECIMAL for both the first and second moment, so mean and
    std are bit-identical under any partitioning and on both engines
    (exact_decimal_scale=2 — the q_agg_q1 discipline extended to
    variance); z and min-max then divide identical doubles, and the
    6-dp round merely fixes the output width."""
    from mysql_cdc_to_http_spark.operators.features import normalize_features

    li = load_table(spark, sf_dir, "lineitem")
    return (
        normalize_features(
            li,
            ["l_quantity", "l_extendedprice"],
            group_cols=["l_returnflag"],
            exact_decimal_scale=2,
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            "l_quantity_z",
            "l_quantity_mm",
            "l_extendedprice_z",
            "l_extendedprice_mm",
        )
        # No presentation sort (r12): the output is the full fact and
        # no consumer needs order — the global range-sort was 2.0 s of
        # this query's 3.7 s for zero semantic content. Safe because
        # the driver's value-hash is order-insensitive, PROVEN in
        # production: q_projection/q_predicates ship unsorted
        # multi-row results against ORDER-BY-free oracles and have
        # hash-matched for 7+ rounds. The oracle keeps its ORDER BY
        # (DuckDB-side, cheap, harmless).
    )


@query(
    "q_psi_drift",
    oracle="""
    WITH a AS (
      SELECT LEAST(GREATEST(CAST(FLOOR(value / 5.0) AS INT), 0), 19) AS bin,
             COUNT(*) AS cnt_a
      FROM events WHERE event_id % 2 = 0 GROUP BY 1
    ), b AS (
      SELECT LEAST(GREATEST(CAST(FLOOR(value / 5.0) AS INT), 0), 19) AS bin,
             COUNT(*) AS cnt_b
      FROM events WHERE event_id % 2 = 1 GROUP BY 1
    ), h AS (
      SELECT COALESCE(a.bin, b.bin) AS bin,
             COALESCE(cnt_a, 0) AS cnt_a, COALESCE(cnt_b, 0) AS cnt_b
      FROM a FULL OUTER JOIN b ON a.bin = b.bin
    ), t AS (
      SELECT bin, cnt_a, cnt_b,
             SUM(cnt_a) OVER () AS ta, SUM(cnt_b) OVER () AS tb
      FROM h
    ), c AS (
      SELECT bin, cnt_a, cnt_b,
             (cnt_a + 0.5) / (ta + 10.0) AS p,
             (cnt_b + 0.5) / (tb + 10.0) AS q
      FROM t
    )
    SELECT bin, CAST(cnt_a AS BIGINT) AS cnt_a, CAST(cnt_b AS BIGINT) AS cnt_b,
           round(p, 6) AS p_a, round(q, 6) AS p_b,
           round((p - q) * ln(p / q), 6) AS psi_bin,
           round(SUM((p - q) * ln(p / q)) OVER (), 6) AS psi_total
    FROM c ORDER BY bin
    """,
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift gate (operators/features.py:
    psi_drift) between two deterministic slices of the events feed
    (event_id parity — a stand-in for train vs serve windows): 20
    fixed-edge bins over value∈[0,100) (outliers clamp into the edge
    bins), Laplace-smoothed shares, per-bin contribution + total.

    Scale: each side reduces to a 20-row histogram via a two-phase
    hash agg before anything joins — the fact stream shuffles 20
    partial rows per task and the PSI arithmetic runs on a
    bin-count-sized frame. Parity: bin indexes floor identical IEEE
    ratios; counts are integers; shares and contributions are then
    identical-input double ops, with ln's ulps absorbed by the 6-dp
    round (q_char_entropy argument)."""
    from mysql_cdc_to_http_spark.operators.features import psi_drift

    ev = load_table(spark, sf_dir, "events")
    side_a = ev.filter(F.col("event_id") % 2 == 0)
    side_b = ev.filter(F.col("event_id") % 2 == 1)
    return psi_drift(
        side_a, side_b, "value", lo=0.0, hi=100.0, n_bins=20, smooth=0.5
    ).orderBy("bin")


@query(
    "q_collocations",
    oracle="""
    WITH toks AS (
      SELECT string_split(lower(text), ' ') AS t FROM documents
    ),
    idx AS (SELECT t, unnest(range(1, len(t))) AS i FROM toks),
    bi AS (SELECT t[i] AS w1, t[i+1] AS w2 FROM idx),
    bc AS (SELECT w1, w2, COUNT(*) AS c FROM bi GROUP BY w1, w2),
    terms AS (
      SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
    ),
    uc AS (SELECT w, COUNT(*) AS c FROM terms GROUP BY w),
    tot AS (SELECT (SELECT COUNT(*) FROM bi) AS nb,
                   (SELECT COUNT(*) FROM terms) AS nu)
    SELECT w1, w2, CAST(bc.c AS BIGINT) AS c_xy,
           round(ln((bc.c / CAST(nb AS DOUBLE)) /
                    ((u1.c / CAST(nu AS DOUBLE)) *
                     (u2.c / CAST(nu AS DOUBLE)))), 6) AS pmi
    FROM bc
    JOIN uc u1 ON bc.w1 = u1.w
    JOIN uc u2 ON bc.w2 = u2.w
    CROSS JOIN tot
    WHERE bc.c >= 5
    ORDER BY pmi DESC, w1, w2
    LIMIT 100
    """,
)
def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining (tokenizer/phrase-table prep): adjacent
    bigrams built as a JVM higher-order-function projection
    (operators/text.py:bigrams — no Python, no self-join), counted with
    one hash agg; unigram counts and the two corpus totals broadcast
    back onto the (min-count-filtered) bigram stream; PMI =
    ln(P(xy) / (P(x)·P(y))). Top-100 by (rounded) PMI is a
    TakeOrderedAndProject — no global sort materializes.

    Scale: the only fact-sized shuffles are the two count aggregates
    (map-side combined). The min-count filter (c ≥ 5) runs BEFORE the
    unigram joins, so join input is the collocation-candidate set, not
    the raw bigram stream. Parity: counts are integers; the PMI double
    arithmetic parenthesizes identically in both engines and orders by
    the ROUNDED value with a full (w1, w2) tiebreak, so ln's ulps
    cannot reorder the top-100 cut."""
    from mysql_cdc_to_http_spark.operators import text as tx

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(tx.tokenize(F.col("text")).alias("t"))
    bi = toks.select(F.explode(tx.bigrams(F.col("t"))).alias("b")).select(
        "b.w1", "b.w2"
    )
    terms = toks.select(F.explode(F.col("t")).alias("w"))
    bc = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    uc = terms.groupBy("w").agg(F.count(F.lit(1)).alias("uc"))
    tot = bi.agg(F.count(F.lit(1)).alias("nb")).crossJoin(
        terms.agg(F.count(F.lit(1)).alias("nu"))
    )
    pmi = F.log(
        (F.col("c") / F.col("nb").cast("double"))
        / (
            (F.col("u1") / F.col("nu").cast("double"))
            * (F.col("u2") / F.col("nu").cast("double"))
        )
    )
    return (
        bc.filter(F.col("c") >= 5)
        .join(F.broadcast(uc.withColumnRenamed("uc", "u1")), bc.w1 == F.col("w"))
        .drop("w")
        .join(F.broadcast(uc.withColumnRenamed("uc", "u2")), bc.w2 == F.col("w"))
        .drop("w")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.col("c").alias("c_xy"),
            F.round(pmi, 6).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(100)
    )


@query(
    "q_vocab_coverage",
    oracle="""
    WITH terms AS (
      SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
    ),
    uc AS (SELECT w, COUNT(*) AS c FROM terms GROUP BY w),
    t AS (
      SELECT w, c,
             SUM(c) OVER (ORDER BY c DESC, w
                          ROWS UNBOUNDED PRECEDING) AS cum,
             ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rnk,
             SUM(c) OVER () AS tot
      FROM uc
    )
    SELECT CAST(rnk AS BIGINT) AS rank, w AS token, CAST(c AS BIGINT) AS cnt,
           round(cum / CAST(tot AS DOUBLE), 6) AS cum_share
    FROM t WHERE rnk <= 1000 ORDER BY rank
    """,
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary sizing: token types ranked by frequency with
    cumulative corpus coverage — the curve that decides how big the
    vocab must be for a target OOV rate.

    The cumulative sums run through operators/sampling.py:
    ranked_prefix_sums — repartitionByRange on (cnt DESC, token) gives
    range-contiguous partitions, partitioned windows cumsum in
    parallel, and only the per-range totals (one row per range) touch a
    bounded single-partition frame. Rank itself is the prefix sum of
    ones, so NO global row_number window exists in the plan. The vocab
    table is type-count-sized (≪ corpus), but at web scale that is
    still millions of rows — hence the two-level shape instead of one
    global window. Parity: everything is integer until the final
    share division; ordering is total via the token tiebreak."""
    from mysql_cdc_to_http_spark.operators import text as tx
    from mysql_cdc_to_http_spark.operators.sampling import ranked_prefix_sums

    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        F.explode(tx.tokenize(F.col("text"))).alias("token")
    )
    uc = terms.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    uc = uc.withColumn("one", F.lit(1))
    tot = uc.agg(F.sum("cnt").alias("tot"))
    cum = ranked_prefix_sums(
        uc, [F.col("cnt").desc(), F.col("token")], ["cnt", "one"]
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            F.col("one__cum").cast("long").alias("rank"),
            "token",
            "cnt",
            F.round(
                F.col("cnt__cum") / F.col("tot").cast("double"), 6
            ).alias("cum_share"),
        )
        .filter(F.col("rank") <= 1000)
        .orderBy("rank")
    )


@query(
    "q_equidepth_bins",
    oracle="""
    WITH r AS (
      SELECT l_extendedprice AS v,
             ROW_NUMBER() OVER (ORDER BY l_extendedprice, l_orderkey,
                                l_linenumber) AS rnk,
             COUNT(*) OVER () AS tot
      FROM lineitem
    )
    SELECT CAST(((rnk - 1) * 10) // tot AS INT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(v) AS lo, MAX(v) AS hi
    FROM r GROUP BY 1 ORDER BY 1
    """,
)
def q_equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-count) binning of a numeric feature
    (operators/features.py:equi_depth_bins): global rank via the
    two-level ranked prefix sum — no global row_number window, no
    single-task sort — then bin = ⌊(rank-1)·k/total⌋. Output is the
    10-row bin summary (count + value bounds): the discretizer table a
    feature pipeline persists and joins back at serving time.

    Parity: rank is total (price, orderkey, linenumber tiebreak), the
    bin formula is integer arithmetic, bounds are raw stored doubles —
    exact equality, no rounding anywhere."""
    from mysql_cdc_to_http_spark.operators.features import equi_depth_bins

    li = load_table(spark, sf_dir, "lineitem")
    binned = equi_depth_bins(
        li, "l_extendedprice", ["l_orderkey", "l_linenumber"], k=10
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
        )
        .orderBy("bin")
    )


@query(
    "q_event_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    pairs AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS c
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    ),
    tot AS (SELECT prev_type, SUM(c) AS t FROM pairs GROUP BY prev_type)
    SELECT p.prev_type, p.next_type, CAST(p.c AS BIGINT) AS n,
           round(p.c / CAST(t.t AS DOUBLE), 6) AS prob
    FROM pairs p JOIN tot t USING (prev_type)
    ORDER BY prev_type, next_type
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (behavioral analytics / session modeling): lag each
    user's (ts, event_id)-ordered stream one step, count (prev → next)
    pairs, normalize per source state.

    Scale: the lag window is PARTITIONED by user — parallel by key,
    one fact shuffle; the pair counts then reduce to an
    event-type²-sized table, and the per-source totals join on that
    tiny table. Parity: ordering is total ((ts, event_id) tiebreak —
    event timestamps alone can collide), counts are integers, the
    probability is one integer-ratio division rounded at 6 dp."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    pairs = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = pairs.groupBy("prev_type").agg(F.sum("n").alias("t"))
    return (
        pairs.join(F.broadcast(tot), "prev_type")
        .select(
            "prev_type",
            "next_type",
            "n",
            F.round(F.col("n") / F.col("t").cast("double"), 6).alias("prob"),
        )
        .orderBy("prev_type", "next_type")
    )


# --------------------------------------------------------------------------
# X124 — rank-exact winsorization (p1/p99 clipping). The feature-prep
# complement of q_feature_scale (z-score) and q_outliers (3σ screen):
# instead of dropping outliers, clip them to percentile cut points.
# --------------------------------------------------------------------------
@query(
    "q_winsorize",
    oracle="""
    WITH ranked AS (
      SELECT o_orderpriority AS grp,
             o_totalprice AS val,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS rn,
             count(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders
    ),
    cuts AS (
      SELECT grp, val, n,
             max(CASE WHEN rn <= (n + 99) // 100 THEN val END)
               OVER (PARTITION BY grp) AS lo_cut,
             min(CASE WHEN rn >= n - (n + 99) // 100 + 1 THEN val END)
               OVER (PARTITION BY grp) AS hi_cut
      FROM ranked
    )
    SELECT grp,
           lo_cut, hi_cut,
           CAST(sum(CASE WHEN val < lo_cut THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_lo,
           CAST(sum(CASE WHEN val > hi_cut THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_hi,
           CAST(sum(CAST(least(greatest(val, lo_cut), hi_cut)
                         AS DECIMAL(14,2))) AS DOUBLE) / count(*)
             AS winsorized_mean
    FROM cuts
    GROUP BY grp, lo_cut, hi_cut
    ORDER BY grp
    """,
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization at the integer-rank p1/p99 cut points.

    Determinism: the cut is "the k-th smallest / k-th largest VALUE"
    with k = ceil(n/100) computed by INTEGER arithmetic ((n+99) div
    100) — not an interpolated percentile, so no float formula can
    disagree between engines; ties in the value order don't move the
    cut (the value at rank k is tiebreak-invariant). The winsorized
    mean sums clipped values through DECIMAL (clipped values are still
    2-dp data values), making the sum partitioning-invariant, then one
    double division.

    Scale shape: ranks come from operators/sampling.py:grouped_ranks —
    the two-level range-partitioned form whose parallelism is
    INDEPENDENT of the group count (Window.partitionBy(grp) would sort
    this 5-group table on 5 tasks; at 100 TB a handful of monster
    groups is exactly the winsorization use case). The k-th/-(k-1)-th
    rows reduce to a groups-sized cut table broadcast back onto the
    stream; the final rollup is a two-phase agg. One fact shuffle
    total (the range repartition)."""
    from mysql_cdc_to_http_spark.operators.sampling import grouped_ranks

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").alias("val"),
        "o_orderkey",
    )
    # ranked (the two-level range-partitioned rank pass) used to be
    # re-derived by THREE consumers (lo-cut filter, hi-cut filter, the
    # clipped stream). Persist it and build BOTH cut points in one
    # filter+aggregate pass (guide §2.4; the q_abc_analysis ranked-
    # cumulative precedent). Identical by construction: lo_cut/hi_cut
    # are still "the val at __grank == k / == __gn-k+1 per grp".
    ranked = caching.persist(
        grouped_ranks(o, ["grp"], [F.col("val"), F.col("o_orderkey")])
    )
    k = F.expr("(__gn + 99) div 100")
    is_lo = F.col("__grank") == k
    is_hi = F.col("__grank") == F.col("__gn") - k + 1
    cut_tbl = (
        ranked.filter(is_lo | is_hi)
        .groupBy("grp")
        .agg(
            F.max(F.when(is_lo, F.col("val"))).alias("lo_cut"),
            F.max(F.when(is_hi, F.col("val"))).alias("hi_cut"),
        )
    )
    cuts = ranked.join(F.broadcast(cut_tbl), "grp")
    clipped = F.least(F.greatest(F.col("val"), F.col("lo_cut")), F.col("hi_cut"))
    return (
        cuts.groupBy("grp", "lo_cut", "hi_cut")
        .agg(
            F.sum(F.when(F.col("val") < F.col("lo_cut"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_clipped_lo"),
            F.sum(F.when(F.col("val") > F.col("hi_cut"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_clipped_hi"),
            (
                F.sum(clipped.cast("decimal(14,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("winsorized_mean"),
        )
        .select(
            "grp",
            "lo_cut",
            "hi_cut",
            "n_clipped_lo",
            "n_clipped_hi",
            "winsorized_mean",
        )
        .orderBy("grp")
    )


# --------------------------------------------------------------------------
# X125 — robust outlier screen: median/MAD modified z-score
# (Iglewicz-Hoaglin). The robust twin of q_outliers' mean/σ z-score —
# a single extreme value shifts mean AND σ (masking), but not the
# median or the MAD.
# --------------------------------------------------------------------------
@query(
    "q_outliers_mad",
    oracle="""
    WITH ranked AS (
      SELECT event_type AS grp, value AS val, event_id,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ),
    med AS (
      SELECT grp, val, n,
             (max(CASE WHEN rn = (n + 1) // 2 THEN val END)
                OVER (PARTITION BY grp)
              + max(CASE WHEN rn = (n + 2) // 2 THEN val END)
                OVER (PARTITION BY grp)) / 2 AS median
      FROM ranked
    ),
    dev_ranked AS (
      SELECT grp, val, n, median, abs(val - median) AS dev,
             row_number() OVER (PARTITION BY grp
                                ORDER BY abs(val - median), val) AS rn2
      FROM med
    ),
    mad AS (
      SELECT grp, val, n, median,
             (max(CASE WHEN rn2 = (n + 1) // 2 THEN dev END)
                OVER (PARTITION BY grp)
              + max(CASE WHEN rn2 = (n + 2) // 2 THEN dev END)
                OVER (PARTITION BY grp)) / 2 AS mad
      FROM dev_ranked
    )
    SELECT grp,
           CAST(count(*) AS BIGINT) AS n,
           CAST(CAST(median AS DECIMAL(18,6)) AS DOUBLE) + 0.0 AS median,
           CAST(CAST(mad AS DECIMAL(18,6)) AS DOUBLE) + 0.0 AS mad,
           CAST(sum(CASE WHEN mad > 0
                          AND abs(0.6745 * (val - median) / mad) > 3.5
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM mad
    GROUP BY grp, median, mad
    ORDER BY grp
    """,
)
def q_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD modified z-score outlier counts per event type.

    Determinism: median and MAD are rank-defined — the mean of the
    values at integer ranks (n+1) div 2 and (n+2) div 2 in the sorted
    order — never an interpolated quantile, so both engines compute the
    identical doubles; the modified z-score 0.6745·(x−med)/MAD is then
    the same IEEE expression on the same inputs on both sides, so the
    3.5 threshold cannot flip. MAD=0 groups count zero outliers by the
    explicit guard (division there would produce ±inf). The dev-rank
    tiebreak is the value itself (abs(dev) ties collapse to mirror
    pairs; either order yields the same rank-k dev value).

    Scale shape: BOTH rank passes (value order for the median,
    deviation order for the MAD) run on operators/sampling.py:
    grouped_ranks — parallelism independent of the group count, the
    same retrofit that flattened q_percentiles/q_winsorize; the
    groups-sized median/MAD tables broadcast back between passes. Two
    fact range-repartitions total, no per-group single-task sort."""
    from mysql_cdc_to_http_spark.operators.sampling import grouped_ranks

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("grp"),
        F.col("value").alias("val"),
        "event_id",
    )
    r1 = grouped_ranks(ev, ["grp"], [F.col("val"), F.col("event_id")])
    lo_mid = F.expr("(__gn + 1) div 2")
    hi_mid = F.expr("(__gn + 2) div 2")
    med = (
        r1.filter(
            (F.col("__grank") == lo_mid) | (F.col("__grank") == hi_mid)
        )
        .groupBy("grp")
        .agg(
            (
                (
                    F.max(
                        F.when(F.col("__grank") == lo_mid, F.col("val"))
                    )
                    + F.max(
                        F.when(F.col("__grank") == hi_mid, F.col("val"))
                    )
                )
                / 2
            ).alias("median")
        )
    )
    with_med = ev.join(F.broadcast(med), "grp")
    dev = F.abs(F.col("val") - F.col("median"))
    devd = with_med.select("grp", "val", "median", dev.alias("dev"))
    r2 = grouped_ranks(devd, ["grp"], [F.col("dev"), F.col("val")])
    mad = (
        r2.filter(
            (F.col("__grank") == lo_mid) | (F.col("__grank") == hi_mid)
        )
        .groupBy("grp")
        .agg(
            (
                (
                    F.max(
                        F.when(F.col("__grank") == lo_mid, F.col("dev"))
                    )
                    + F.max(
                        F.when(F.col("__grank") == hi_mid, F.col("dev"))
                    )
                )
                / 2
            ).alias("mad")
        )
    )
    scored = with_med.join(F.broadcast(mad), "grp")
    is_outlier = (F.col("mad") > 0) & (
        F.abs(
            F.lit(0.6745) * (F.col("val") - F.col("median")) / F.col("mad")
        )
        > 3.5
    )
    return (
        scored.groupBy("grp", "median", "mad")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(is_outlier, 1).otherwise(0))
            .cast("bigint")
            .alias("n_outliers"),
        )
        .select(
            "grp",
            "n",
            F.col("median").cast("decimal(18,6)").cast("double").alias(
                "median"
            ),
            F.col("mad").cast("decimal(18,6)").cast("double").alias("mad"),
            "n_outliers",
        )
        .orderBy("grp")
    )


# --------------------------------------------------------------------------
# X126b/X127 — A/B experiment readout: deterministic md5 variant
# assignment + per-metric Welch z statistic from DECIMAL-exact moments.
# --------------------------------------------------------------------------
@query(
    "q_ab_test",
    oracle="""
    WITH assigned AS (
      SELECT event_type, value,
             CASE WHEN ('0x' || substr(md5('ab-v1|' ||
                        CAST(user_id AS VARCHAR)), 1, 6))::BIGINT
                       % 100 < 50
                  THEN 'A' ELSE 'B' END AS variant
      FROM events
    ),
    m AS (
      SELECT event_type, variant,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
             CAST(sum(CAST(value AS DECIMAL(18,2))
                      * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s2
      FROM assigned GROUP BY event_type, variant
    ),
    wide AS (
      SELECT a.event_type,
             a.n AS n_a, b.n AS n_b,
             a.s1 / a.n AS mean_a, b.s1 / b.n AS mean_b,
             (a.s2 - a.s1 * a.s1 / a.n) / (a.n - 1) AS var_a,
             (b.s2 - b.s1 * b.s1 / b.n) / (b.n - 1) AS var_b
      FROM m a JOIN m b ON a.event_type = b.event_type
      WHERE a.variant = 'A' AND b.variant = 'B'
    )
    SELECT event_type,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(CAST(mean_a - mean_b AS DECIMAL(18,6)) AS DOUBLE) + 0.0
             AS mean_diff,
           CAST(CAST((mean_a - mean_b)
                     / sqrt(var_a / n_a + var_b / n_b)
                     AS DECIMAL(18,6)) AS DOUBLE) + 0.0 AS welch_z
    FROM wide ORDER BY event_type
    """,
)
def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout per event type: users deterministically
    assigned to variants by the engine's md5 bucket primitive
    (operators/sampling.py:split_bucket discipline — any engine with
    md5 reproduces the assignment), then the Welch z statistic for the
    value metric.

    Determinism: per-variant first/second moments sum through DECIMAL
    (value is 2-dp data; squares are exact at scale 4), so n/s1/s2 are
    partitioning-invariant; mean/variance/z are then the identical IEEE
    expression on identical doubles in both engines, surfaced through
    the DECIMAL(18,6) display round. Scale shape: ONE two-phase hash
    aggregate over (event_type, variant) — the assignment is a pure
    projection riding the scan — then a self-join of the
    5×2-row moment table. Nothing but the aggregate touches the fact
    stream."""
    from mysql_cdc_to_http_spark.operators.sampling import split_bucket

    ev = load_table(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,2)")
    assigned = ev.select(
        "event_type",
        F.when(
            split_bucket(F.col("user_id"), 100, salt="ab-v1") < 50, "A"
        )
        .otherwise("B")
        .alias("variant"),
        dec.alias("v"),
    )
    m = assigned.groupBy("event_type", "variant").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").cast("double").alias("s1"),
        F.sum(F.col("v") * F.col("v")).cast("double").alias("s2"),
    )
    a = m.filter(F.col("variant") == "A").select(
        "event_type",
        F.col("n").alias("n_a"),
        F.col("s1").alias("s1a"),
        F.col("s2").alias("s2a"),
    )
    b = m.filter(F.col("variant") == "B").select(
        F.col("event_type").alias("et_b"),
        F.col("n").alias("n_b"),
        F.col("s1").alias("s1b"),
        F.col("s2").alias("s2b"),
    )
    wide = a.join(b, F.col("event_type") == F.col("et_b"))
    mean_a = F.col("s1a") / F.col("n_a")
    mean_b = F.col("s1b") / F.col("n_b")
    var_a = (F.col("s2a") - F.col("s1a") * F.col("s1a") / F.col("n_a")) / (
        F.col("n_a") - 1
    )
    var_b = (F.col("s2b") - F.col("s1b") * F.col("s1b") / F.col("n_b")) / (
        F.col("n_b") - 1
    )
    z = (mean_a - mean_b) / F.sqrt(
        var_a / F.col("n_a") + var_b / F.col("n_b")
    )
    return wide.select(
        "event_type",
        "n_a",
        "n_b",
        (mean_a - mean_b)
        .cast("decimal(18,6)")
        .cast("double")
        .alias("mean_diff"),
        z.cast("decimal(18,6)").cast("double").alias("welch_z"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# X133 — Gini coefficient of revenue concentration (dataset-balance /
# inequality audit). Exact: integer ranks × DECIMAL revenue sums.
# --------------------------------------------------------------------------
@query(
    "q_gini",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS x
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS i FROM rev
    ),
    agg AS (
      SELECT count(*) AS n,
             sum(x) AS sx,
             sum(i * x) AS six
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(sx AS DOUBLE) AS total_revenue,
           CAST(CAST((2 * CAST(six AS DOUBLE)
                      - (n + 1) * CAST(sx AS DOUBLE))
                     / (n * CAST(sx AS DOUBLE)) AS DECIMAL(18,6))
                AS DOUBLE) + 0.0 AS gini
    FROM agg
    """,
)
def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue: G = (2·Σi·x₍ᵢ₎ −
    (n+1)·Σx) / (n·Σx) over the ascending revenue order.

    Determinism: per-customer revenue sums through DECIMAL; ranks are
    integers from a TOTAL order ((x, custkey) tiebreak); Σi·x is a
    DECIMAL·integer sum — all exact, with one double division at the
    end behind the DECIMAL(18,6) display round. Scale shape: the rank
    is the engine's two-level ranked prefix sum
    (operators/sampling.py:ranked_prefix_sums — repartitionByRange +
    partitioned windows + bounded range-totals cumsum), NEVER a global
    single-partition row_number; the final reduction is a 3-value
    aggregate."""
    from mysql_cdc_to_http_spark.operators.sampling import (
        ranked_prefix_sums,
    )

    rev = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("x")
        )
        .withColumn("__one", F.lit(1).cast("bigint"))
    )
    ranked = ranked_prefix_sums(
        rev, [F.col("x").asc(), F.col("o_custkey").asc()], ["__one"]
    ).withColumnRenamed("__one__cum", "i")
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("i") * F.col("x")).alias("six"),
    )
    n = F.col("n")
    sx = F.col("sx").cast("double")
    six = F.col("six").cast("double")
    gini = ((F.lit(2) * six - (n + 1) * sx) / (n * sx)).cast(
        "decimal(18,6)"
    ).cast("double")
    return agg.select(
        n.cast("bigint").alias("n_customers"),
        sx.alias("total_revenue"),
        gini.alias("gini"),
    )


# --------------------------------------------------------------------------
# X134 — feature-adoption curves: per event type, daily first-time
# users + cumulative adopters.
# --------------------------------------------------------------------------
@query(
    "q_growth_curve",
    oracle="""
    WITH first_seen AS (
      SELECT event_type, user_id, CAST(min(ts) AS DATE) AS d FROM events
      GROUP BY event_type, user_id
    ),
    daily AS (
      SELECT event_type, d, CAST(count(*) AS BIGINT) AS new_users
      FROM first_seen GROUP BY event_type, d
    )
    SELECT event_type, d, new_users,
           CAST(sum(new_users) OVER (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_users
    FROM daily ORDER BY event_type, d
    """,
)
def q_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-adoption curves: for each event type, how many users
    used it for the FIRST time each day, and the cumulative adopter
    count.

    Scale shape: the fact-sized work is one two-phase MIN(ts) aggregate
    on (event_type, user_id); the daily rollup is calendar × types
    sized, and the cumulative sum windows over that small table
    PARTITIONED BY event_type (parallel, never single-partition). The
    adoption semantics (first use, not activity) is what makes the
    per-type curves diverge — rare types adopt over weeks while common
    ones saturate on day one."""
    from pyspark.sql.window import Window as W

    first_seen = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", "user_id")
        .agg(F.min("ts").alias("first_ts"))
        .select("event_type", F.to_date("first_ts").alias("d"))
    )
    daily = first_seen.groupBy("event_type", "d").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return daily.select(
        "event_type",
        "d",
        "new_users",
        F.sum("new_users").over(w).cast("bigint").alias("cum_users"),
    ).orderBy("event_type", "d")


# --------------------------------------------------------------------------
# X135 — Pareto (skyline) frontier: parts not strictly dominated on
# (cheaper price, larger size). The multi-objective selection operator,
# computed by level-reduction + distributed exclusive cummax instead of
# the quadratic NOT-EXISTS self-join.
# --------------------------------------------------------------------------
@query(
    "q_pareto_frontier",
    oracle="""
    SELECT p_partkey, p_retailprice, CAST(p_size AS BIGINT) AS p_size
    FROM part a
    WHERE NOT EXISTS (
      SELECT 1 FROM part b
      WHERE (b.p_retailprice <  a.p_retailprice AND b.p_size >= a.p_size)
         OR (b.p_retailprice <= a.p_retailprice AND b.p_size >  a.p_size)
    )
    ORDER BY p_retailprice, p_partkey
    """,
)
def q_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline of parts: no other part is cheaper-or-equal AND
    larger-or-equal with at least one strict.

    Scale shape: the naive definition is a quadratic NOT-EXISTS
    self-join (the oracle — fine at oracle scale, certifying the fast
    form). The engine instead (1) reduces to PRICE LEVELS — one
    two-phase agg to (price_cents, max_size, n) — collapsing the
    corpus to its distinct-price table; (2) takes the EXCLUSIVE
    running max of max_size over strictly-cheaper levels with the
    two-level ranked cummax (operators/sampling.py:
    ranked_exclusive_cummax — repartitionByRange + partitioned
    windows + bounded range-prefix, never a global sort); (3) keeps
    levels whose max_size beats every cheaper level, and (4) joins the
    surviving (level, size) keys back to recover the frontier rows —
    equal-price-equal-size rows are mutually non-dominating and all
    survive, smaller-at-same-price rows are dominated and drop.
    Integer cents make the strictly-cheaper order exact."""
    from mysql_cdc_to_http_spark.operators.sampling import (
        ranked_exclusive_cummax,
    )

    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_retailprice",
        F.col("p_size").cast("bigint").alias("p_size"),
        F.expr("CAST(round(p_retailprice * 100, 0) AS BIGINT)").alias(
            "price_c"
        ),
    )
    levels = part.groupBy("price_c").agg(
        F.max("p_size").alias("lvl_max")
    )
    scanned = ranked_exclusive_cummax(
        levels, [F.col("price_c").asc()], "lvl_max"
    )
    frontier_levels = scanned.filter(
        F.col("lvl_max__premax").isNull()
        | (F.col("lvl_max") > F.col("lvl_max__premax"))
    ).select("price_c", F.col("lvl_max").alias("p_size"))
    return (
        part.join(
            F.broadcast(frontier_levels), ["price_c", "p_size"], "inner"
        )
        .select("p_partkey", "p_retailprice", "p_size")
        .orderBy("p_retailprice", "p_partkey")
    )


# --------------------------------------------------------------------------
# X136 — Poisson bootstrap CI (the distributed bootstrap: per-record
# independent Poisson(1) weights instead of global resampling, so
# replicas never leave the row — one pass, R× map-side fan-out).
# --------------------------------------------------------------------------
# Poisson(1) inverse-CDF thresholds (cumulative e^{-1} Σ 1/k!), capped
# at 8 (P(X>8) < 1e-6). Literal doubles — identical in any engine.
_POIS_CUM = (
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238462", "0.9963401531726563", "0.9994058151824183",
    "0.9999167588507119", "0.9999897508033253",
)


def _pois_case(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POIS_CUM)
    )
    return f"CASE {branches} ELSE 8 END"


@query(
    "q_bootstrap_ci",
    oracle=f"""
    WITH reps AS (SELECT unnest(generate_series(0, 199)) AS r),
    weighted AS (
      SELECT r.r,
             {_pois_case("(('0x' || substr(md5('boot-v1|' || CAST(r.r AS VARCHAR) || '|' || CAST(d.doc_id AS VARCHAR)), 1, 6))::BIGINT / 16777216.0)")}
               AS w,
             d.n_chars
      FROM documents d, reps r
    ),
    means AS (
      SELECT r, CAST(sum(w * n_chars) AS DOUBLE) / sum(w) AS m
      FROM weighted GROUP BY r HAVING sum(w) > 0
    ),
    ranked AS (
      SELECT m, row_number() OVER (ORDER BY m, r) AS rn,
             count(*) OVER () AS nr
      FROM means
    )
    SELECT CAST(max(nr) AS BIGINT) AS n_replicas,
           CAST(CAST(max(CASE WHEN rn = CAST(ceil(nr * 0.025) AS BIGINT)
                              THEN m END) AS DECIMAL(18,6)) AS DOUBLE)
             + 0.0 AS ci_lo,
           CAST(CAST(max(CASE WHEN rn = nr - CAST(ceil(nr * 0.025) AS BIGINT)
                                   + 1
                              THEN m END) AS DECIMAL(18,6)) AS DOUBLE)
             + 0.0 AS ci_hi
    FROM ranked
    """,
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap CI for the mean document length via the POISSON
    bootstrap (Chamandy et al. / the estimator behind large-scale
    bootstrap at Google): instead of materializing 200 resamples, each
    record draws an independent Poisson(1) multiplicity per replica —
    resampling becomes a weighted one-pass aggregate.

    Determinism: the Poisson draw is inverse-CDF over an md5-derived
    uniform (split_bucket discipline: first 24 hash bits / 2²⁴), so
    every engine reproduces the exact weights; replica means are
    INTEGER-sum ratios (weight × n_chars), and the CI bounds are
    rank-selected order statistics ((m, r) total order, ceil-integer
    ranks) — no interpolation, no float aggregation anywhere before
    the display round. Scale shape: the fan-out is an in-task explode
    of the 200-replica sequence with map-side partial aggregation —
    the shuffle carries 200 rows per task, never 200× the corpus; the
    order-statistic window runs over the 200-row replica table on a
    non-foldable constant key."""
    from pyspark.sql.window import Window as W

    R = 200
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    rep = docs.withColumn(
        "r", F.explode(F.sequence(F.lit(0), F.lit(R - 1)))
    )
    u = (
        "(conv(substring(md5(concat('boot-v1|', CAST(r AS STRING), '|',"
        " CAST(doc_id AS STRING))), 1, 6), 16, 10) / 16777216.0)"
    )
    weighted = rep.withColumn("w", F.expr(_pois_case(u)))
    means = (
        weighted.groupBy("r")
        .agg(
            F.sum(F.col("w") * F.col("n_chars")).alias("swx"),
            F.sum("w").alias("sw"),
        )
        .filter(F.col("sw") > 0)
        .select(
            "r", (F.col("swx").cast("double") / F.col("sw")).alias("m")
        )
    )
    w_rank = W.partitionBy(F.pmod(F.col("r"), F.lit(1))).orderBy("m", "r")
    ranked = means.select(
        "m",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1))
        .over(W.partitionBy(F.pmod(F.col("r"), F.lit(1))))
        .alias("nr"),
    )
    k = F.expr("CAST(ceil(nr * 0.025) AS BIGINT)")
    return ranked.agg(
        F.max("nr").cast("bigint").alias("n_replicas"),
        F.max(F.when(F.col("rn") == k, F.col("m")))
        .cast("decimal(18,6)")
        .cast("double")
        .alias("ci_lo"),
        F.max(F.when(F.col("rn") == F.col("nr") - k + 1, F.col("m")))
        .cast("decimal(18,6)")
        .cast("double")
        .alias("ci_hi"),
    )


# --------------------------------------------------------------------------
# X138 — truncated EWMA smoothing of a daily series, in PURE INTEGER
# micro-unit arithmetic: α = 1/2 makes the 8 truncated weights integers
# after scaling by 256 (128,64,32,16,8,4,2,2), so numerator, denominator
# and the final div are exact — no float, no rounding ambiguity anywhere.
# --------------------------------------------------------------------------
_EWMA_W = (128, 64, 32, 16, 8, 4, 2, 2)  # 256 × (1/2, 1/4, ..., 1/128, 1/128)


def _ewma_int_terms(lag_fmt: str) -> tuple[str, str]:
    nums, dens = [], []
    for j, w in enumerate(_EWMA_W):
        lag = "mm" if j == 0 else lag_fmt.format(j=j)
        nums.append(f"COALESCE({w} * {lag}, 0)")
        dens.append(f"CASE WHEN {lag} IS NOT NULL THEN {w} ELSE 0 END")
    return " + ".join(nums), " + ".join(dens)


@query(
    "q_ewma",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) * 10000 AS BIGINT)
                  // count(*) AS BIGINT) AS mm
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, d,
           CAST(mm AS DOUBLE) / 1000000.0 AS day_mean,
           CAST(CAST(({num}) // ({den}) AS BIGINT) AS DOUBLE) / 1000000.0
             AS ewma
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY d)
    ORDER BY event_type, d
    """.format(
        num=_ewma_int_terms("lag(mm, {j}) OVER w")[0],
        den=_ewma_int_terms("lag(mm, {j}) OVER w")[1],
    ),
)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-term truncated EWMA of the daily mean event value per type.

    The textbook EWMA is a sequential recurrence — hostile to parallel
    engines. The truncated form re-expresses it as a FIXED lag
    composition: ewma_t = Σⱼ wⱼ·m₍t₋ⱼ₎ / Σⱼ wⱼ, weights renormalized
    over the lags that exist so series edges are exact. Determinism is
    total, not probabilistic: daily means floor to integer MICRO-UNITS
    ((Σcents·10000) div n), α = 1/2 makes the scaled weights integers
    (128…2), and the smoothed value is an integer div — both engines do
    only integer arithmetic until the final exact /1e6 display (an
    engine-rounding midpoint bit this query's first float version at
    sf0.001; the integer form removes the class of bug, same rationale
    as q_attribution's micro-money credits). Truncation error vs the
    infinite recurrence is ≤ (1−α)⁸ of weight, carried by the
    renormalization. (The integer-div parity argument needs
    non-negative micro-units — Spark ``div`` truncates toward zero
    while DuckDB ``//`` floors, which diverge on negatives; event
    values are positive by schema, and a signed-metric variant would
    offset into the positive range first.) Scale shape: one two-phase daily agg over the
    facts, then ONE keyed window (8 lags share a single sort,
    partition-parallel by type)."""
    from pyspark.sql.window import Window as W

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(
            F.expr(
                "CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) * 10000"
                " AS BIGINT) div count(*) AS BIGINT)"
            ).alias("mm")
        )
    )
    w = W.partitionBy("event_type").orderBy("d")
    num_terms, den_terms = [], []
    for j, wj in enumerate(_EWMA_W):
        lag = F.col("mm") if j == 0 else F.lag("mm", j).over(w)
        num_terms.append(F.coalesce(F.lit(wj) * lag, F.lit(0)))
        den_terms.append(
            F.when(lag.isNotNull(), F.lit(wj)).otherwise(F.lit(0))
        )
    num = num_terms[0]
    for term in num_terms[1:]:
        num = num + term
    den = den_terms[0]
    for term in den_terms[1:]:
        den = den + term
    ewma = F.expr("num_i div den_i").cast("bigint").cast("double") / 1e6
    return (
        daily.select(
            "event_type",
            "d",
            "mm",
            num.alias("num_i"),
            den.alias("den_i"),
        )
        .select(
            "event_type",
            "d",
            (F.col("mm").cast("double") / 1e6).alias("day_mean"),
            ewma.alias("ewma"),
        )
        .orderBy("event_type", "d")
    )


# --------------------------------------------------------------------------
# X140 — weekday-seasonal anomaly detection on daily volumes: seasonal-
# naive baseline (same-weekday mean) + pooled-residual 2σ screen, in
# ALL-INTEGER arithmetic (centi-units; the variance comparison is
# cross-multiplied so no sqrt/division ever happens).
# --------------------------------------------------------------------------
@query(
    "q_seasonal_anomaly",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS n,
             dayofweek(CAST(ts AS DATE)) AS wd
      FROM events GROUP BY 1, 2
    ),
    base AS (
      SELECT event_type, d, n,
             n * 100 - (sum(n * 100) OVER pw) // (count(*) OVER pw) AS r
      FROM daily
      WINDOW pw AS (PARTITION BY event_type, wd)
    ),
    pooled AS (
      SELECT event_type, d, n, r,
             count(*) OVER tw AS m,
             sum(r) OVER tw AS sr,
             sum(r * r) OVER tw AS sr2
      FROM base
      WINDOW tw AS (PARTITION BY event_type)
    )
    SELECT event_type, d, n,
           CAST(r AS BIGINT) AS residual_centi
    FROM pooled
    WHERE (r * m - sr) * (r * m - sr) > 4 * (m * sr2 - sr * sr)
    ORDER BY event_type, d
    """,
)
def q_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event volumes more than 2 pooled σ away from their
    same-weekday seasonal baseline.

    Determinism is total: counts are integers, the baseline is an
    integer centi-unit floor-div, residuals are integers, and the 2σ
    screen is the CROSS-MULTIPLIED variance inequality
    (r·m − Σr)² > 4·(m·Σr² − (Σr)²) — algebraically identical to
    |r − mean| > 2σ but free of sqrt, division, and any float that
    could flip a boundary between engines (q_ewma's lesson applied to
    a comparison instead of a display). Scale shape: one fact-sized
    two-phase daily agg; both window passes ((type, weekday) baseline,
    (type) pooled moments) run over the calendar-sized daily table,
    partition-parallel."""
    from pyspark.sql.window import Window as W

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("wd", F.dayofweek("d"))
    )
    pw = W.partitionBy("event_type", "wd")
    base = daily.select(
        "event_type",
        "d",
        "n",
        F.sum(F.col("n") * 100).over(pw).alias("sw"),
        F.count(F.lit(1)).over(pw).alias("kw"),
    ).select(
        "event_type",
        "d",
        "n",
        (F.col("n") * 100 - F.expr("sw div kw")).alias("r"),
    )
    tw = W.partitionBy("event_type")
    pooled = base.select(
        "event_type",
        "d",
        "n",
        "r",
        F.count(F.lit(1)).over(tw).alias("m"),
        F.sum("r").over(tw).alias("sr"),
        F.sum(F.col("r") * F.col("r")).over(tw).alias("sr2"),
    )
    lhs = (F.col("r") * F.col("m") - F.col("sr")) * (
        F.col("r") * F.col("m") - F.col("sr")
    )
    rhs = F.lit(4) * (
        F.col("m") * F.col("sr2") - F.col("sr") * F.col("sr")
    )
    return (
        pooled.filter(lhs > rhs)
        .select(
            "event_type",
            "d",
            "n",
            F.col("r").cast("bigint").alias("residual_centi"),
        )
        .orderBy("event_type", "d")
    )


# --------------------------------------------------------------------------
# X147 — forecast backtest: seasonal-naive forecast (same weekday last
# week) evaluated with integer-exact MAE / WAPE / sMAPE. The
# train-in-the-past / test-in-the-future temporal discipline, as a
# query.
# --------------------------------------------------------------------------
@query(
    "q_backtest_mape",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    joined AS (
      SELECT a.event_type, a.d, a.n, f.n AS fc
      FROM daily a JOIN daily f
        ON a.event_type = f.event_type AND f.d = a.d - INTERVAL 7 DAY
    ),
    scored AS (
      SELECT event_type, n, fc,
             abs(n - fc) AS ae,
             (2000000 * abs(n - fc)) // (n + fc) AS smape_u
      FROM joined
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST((1000000 * sum(ae)) // count(*) AS BIGINT) AS mae_micro,
           CAST((1000000 * sum(ae)) // sum(n) AS BIGINT) AS wape_micro,
           CAST(sum(smape_u) // count(*) AS BIGINT) AS smape_micro
    FROM scored GROUP BY event_type ORDER BY event_type
    """,
)
def q_backtest_mape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the seasonal-naive forecast (volume = same weekday
    last week) per event type: MAE, WAPE, and sMAPE — every metric an
    integer micro-unit floor of exact integer sums, so the evaluation
    is bit-identical in any engine (q_ewma's integer discipline
    applied to forecast scoring; n + fc > 0 always since both are
    day counts ≥ 1).

    Scale shape: one fact-sized daily agg; the forecast join is the
    calendar-sized daily table self-joined on (type, d−7) — keyed,
    tiny; metrics are a two-phase agg over it. The temporal hygiene —
    forecasts only ever read STRICTLY older rows — is structural (the
    join key subtracts 7 days), not policed by a filter."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    fc = daily.select(
        F.col("event_type").alias("et2"),
        F.col("d").alias("d2"),
        F.col("n").alias("fc"),
    )
    joined = daily.join(
        fc,
        (F.col("event_type") == F.col("et2"))
        & (F.col("d2") == F.date_sub(F.col("d"), 7)),
    )
    ae = F.abs(F.col("n") - F.col("fc"))
    scored = joined.select(
        "event_type",
        "n",
        ae.alias("ae"),
        F.expr("(2000000 * abs(n - fc)) div (n + fc)").alias("smape_u"),
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.expr("(1000000 * sum(ae)) div count(*)")
            .cast("bigint")
            .alias("mae_micro"),
            F.expr("(1000000 * sum(ae)) div sum(n)")
            .cast("bigint")
            .alias("wape_micro"),
            F.expr("sum(smape_u) div count(*)")
            .cast("bigint")
            .alias("smape_micro"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# X148 — join-key skew report: the pre-flight a 100 TB join runs BEFORE
# choosing a strategy. Integer-exact distribution stats + a derived
# salt recommendation for operators/salting.py.
# --------------------------------------------------------------------------
@query(
    "q_skew_report",
    oracle="""
    WITH kc AS (
      SELECT o_custkey AS k, count(*) AS c FROM orders GROUP BY 1
    ),
    tot AS (
      SELECT sum(c) AS n, count(*) AS nk, max(c) AS top1 FROM kc
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           CAST(nk AS BIGINT) AS n_keys,
           CAST(top1 AS BIGINT) AS top1_cnt,
           CAST((1000000 * top1) // n AS BIGINT) AS top1_share_micro,
           CAST((SELECT count(*) FROM kc, tot WHERE c * nk > 2 * n)
                AS BIGINT) AS n_hot_keys,
           CAST((top1 * nk + n - 1) // n AS BIGINT) AS rec_salts
    FROM tot
    """,
)
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-distribution report for the orders→customer join key:
    row/key counts, the heaviest key's share, how many keys run above
    2× the mean, and the salt factor that flattens the hottest key to
    mean-sized slices (⌈top1/avg⌉ — what operators/salting.py's
    n_salts wants).

    Everything is integer arithmetic over two aggregates (per-key
    counts: one fact-sized two-phase hash agg whose skew, if any, is
    exactly what AQE's partial aggregation absorbs; then a key-table
    reduction). The hot-key screen cross-multiplies (c·K > 2·N)
    instead of comparing float means — q_seasonal_anomaly's
    boundary-free comparison rule."""
    kc = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = kc.agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("nk"),
        F.max("c").alias("top1"),
    )
    hot = (
        kc.crossJoin(F.broadcast(tot))
        .filter(F.col("c") * F.col("nk") > 2 * F.col("n"))
        .agg(F.count(F.lit(1)).alias("n_hot_keys"))
    )
    return (
        tot.crossJoin(F.broadcast(hot))
        .select(
            F.col("n").cast("bigint").alias("n_rows"),
            F.col("nk").cast("bigint").alias("n_keys"),
            F.col("top1").cast("bigint").alias("top1_cnt"),
            F.expr("(1000000 * top1) div n")
            .cast("bigint")
            .alias("top1_share_micro"),
            F.col("n_hot_keys").cast("bigint").alias("n_hot_keys"),
            F.expr("(top1 * nk + n - 1) div n")
            .cast("bigint")
            .alias("rec_salts"),
        )
    )


# --------------------------------------------------------------------------
# X153 — mutual information between two categorical views of the
# stream (event type × spend bucket): the feature-selection /
# dependency-audit statistic, from one contingency aggregate.
# --------------------------------------------------------------------------
@query(
    "q_mutual_info",
    oracle="""
    WITH c AS (
      SELECT event_type AS x,
             least(CAST(floor(value / 50) AS BIGINT), 3) AS y,
             count(*) AS cxy
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT x, y, cxy,
             sum(cxy) OVER (PARTITION BY x) AS cx,
             sum(cxy) OVER (PARTITION BY y) AS cy,
             sum(cxy) OVER () AS n
      FROM c
    )
    SELECT x AS event_type,
           CAST(sum(cxy) AS BIGINT) AS n_events,
           round(sum((CAST(cxy AS DOUBLE) / n)
                     * ln(CAST(cxy AS DOUBLE) * n
                          / (CAST(cx AS DOUBLE) * cy))), 6)
             AS mi_contrib
    FROM m GROUP BY x ORDER BY x
    """,
)
def q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type contribution to the mutual information between
    event type and spend bucket (I(X;Y) = Σ p ln(p_xy/(p_x·p_y)) —
    the dependency audit run before treating a feature as independent
    signal; Σ of the column is the full MI).

    Determinism: the contingency table is one two-phase hash agg
    (types × 4 buckets rows); marginals are windows over that tiny
    table; every ln/division input is an exact integer-product double,
    so both engines evaluate identical expressions — 6-dp rounded
    (q_collocations' PMI discipline, aggregated). Scale: the fact
    stream is touched once, by the counting agg; bucket assignment is
    integer arithmetic in the scan projection."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy(
        F.col("event_type").alias("x"),
        F.least(F.expr("CAST(floor(value / 50) AS BIGINT)"), F.lit(3)).alias("y"),
    ).agg(F.count(F.lit(1)).alias("cxy"))
    m = c.select(
        "x",
        "y",
        "cxy",
        F.sum("cxy").over(W.partitionBy("x")).alias("cx"),
        F.sum("cxy").over(W.partitionBy("y")).alias("cy"),
        F.sum("cxy")
        .over(W.partitionBy(F.pmod(F.col("y"), F.lit(1))))
        .alias("n"),
    )
    contrib = (F.col("cxy").cast("double") / F.col("n")) * F.log(
        F.col("cxy").cast("double")
        * F.col("n")
        / (F.col("cx").cast("double") * F.col("cy"))
    )
    return (
        m.groupBy(F.col("x").alias("event_type"))
        .agg(
            F.sum("cxy").cast("bigint").alias("n_events"),
            F.round(F.sum(contrib), 6).alias("mi_contrib"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# X156 — exact weighted median (quantity-weighted price per return
# flag): the weighted order statistic, rank-free and float-free — the
# cut is the first value whose cumulative weight reaches half the
# group total, by integer comparison.
# --------------------------------------------------------------------------
@query(
    "q_weighted_median",
    oracle="""
    WITH w AS (
      SELECT l_returnflag AS grp, l_extendedprice AS val,
             CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS wc,
             l_orderkey, l_linenumber
      FROM lineitem
    ),
    c AS (
      SELECT grp, val, wc,
             sum(wc) OVER (PARTITION BY grp
                           ORDER BY val, l_orderkey, l_linenumber
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS wcum,
             sum(wc) OVER (PARTITION BY grp) AS wtot
      FROM w
    )
    SELECT grp,
           CAST(max(wtot) AS BIGINT) AS total_weight_centi,
           min(CASE WHEN 2 * wcum >= wtot THEN val END)
             AS weighted_median
    FROM c GROUP BY grp ORDER BY grp
    """,
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median extended price per return flag: the
    smallest value v with cumweight(v) ≥ W/2.

    Determinism is total: weights scale to integer centi-units, the
    cumulative sums are integers from a TOTAL order, and the median
    test is the cross-multiplied integer inequality 2·wcum ≥ wtot — no
    interpolation, no float. Scale shape: the cumulative weights come
    from operators/sampling.py:grouped_prefix_sums — the grouped_ranks
    two-level discipline generalized to running SUMS, so parallelism
    stays independent of the group count (3 monster groups ≠ 3 tasks);
    the final reduction is a groups-sized aggregate."""
    from mysql_cdc_to_http_spark.operators.sampling import (
        grouped_prefix_sums,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_extendedprice").alias("val"),
        F.expr(
            "CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)"
        ).alias("wc"),
        "l_orderkey",
        "l_linenumber",
    )
    cum = grouped_prefix_sums(
        li,
        ["grp"],
        [F.col("val"), F.col("l_orderkey"), F.col("l_linenumber")],
        ["wc"],
    )
    return (
        cum.groupBy("grp")
        .agg(
            F.max("wc__tot").cast("bigint").alias("total_weight_centi"),
            F.min(
                F.when(
                    2 * F.col("wc__cum") >= F.col("wc__tot"), F.col("val")
                )
            ).alias("weighted_median"),
        )
        .orderBy("grp")
    )


# --------------------------------------------------------------------------
# X161 — quantile matching (CDF normalization): slice B's values mapped
# onto slice A's distribution by integer rank correspondence — the
# batch-effect / domain-shift correction that PSI (X106) detects.
# --------------------------------------------------------------------------
@query(
    "q_quantile_match",
    oracle="""
    WITH a AS (
      SELECT event_type AS grp, value AS val,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rk,
             count(*) OVER (PARTITION BY event_type) AS na
      FROM events WHERE event_id % 2 = 0
    ),
    b AS (
      SELECT event_type AS grp, value AS val, event_id,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rk,
             count(*) OVER (PARTITION BY event_type) AS nb
      FROM events WHERE event_id % 2 = 1
    ),
    mapped AS (
      SELECT b.grp, b.val AS val_b, a.val AS val_matched
      FROM b JOIN a
        ON a.grp = b.grp
       AND a.rk = (b.rk * a.na + b.nb - 1) // b.nb
    )
    SELECT grp,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(val_matched AS DECIMAL(18,2))) AS DOUBLE)
             / count(*) AS mean_matched,
           min(val_matched) AS min_matched,
           max(val_matched) AS max_matched
    FROM mapped GROUP BY grp ORDER BY grp
    """,
)
def q_quantile_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map the odd-event slice's value distribution onto the even
    slice's, per event type: B's rank-r value becomes A's value at the
    integer-proportional rank ⌈r·nA/nB⌉ — exact CDF matching, no
    interpolation.

    Determinism: both rankings are total orders; the rank
    correspondence is pure integer arithmetic; matched values are A's
    2-dp data values summed through DECIMAL. Scale shape: each slice
    ranks via grouped_ranks (two-level, group-count-independent); the
    correspondence join keys on (group, rank) — co-partitioned,
    matched-rows-sized. The join is guaranteed total because the
    ceiling maps [1, nB] into [1, nA]."""
    from mysql_cdc_to_http_spark.operators.sampling import grouped_ranks

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("grp"),
        F.col("value").alias("val"),
        "event_id",
    )
    a = grouped_ranks(
        ev.filter(F.col("event_id") % 2 == 0),
        ["grp"],
        [F.col("val"), F.col("event_id")],
    ).select(
        "grp",
        F.col("val").alias("val_a"),
        F.col("__grank").alias("rk_a"),
        F.col("__gn").alias("na"),
    )
    b = grouped_ranks(
        ev.filter(F.col("event_id") % 2 == 1),
        ["grp"],
        [F.col("val"), F.col("event_id")],
    ).select(
        "grp",
        F.col("__grank").alias("rk_b"),
        F.col("__gn").alias("nb"),
    )
    # r16 (guide §2.4): na is just the even-slice group count — derive
    # it with one cheap aggregate on the raw slice instead of
    # re-running the whole grouped_ranks pipeline (two fact
    # range-repartitions) a second time only to distinct out its __gn
    # column (measured plan before: 17 Exchange / 6 scans). Values are
    # identical: __gn IS count(*) per group by construction.
    na = (
        ev.filter(F.col("event_id") % 2 == 0)
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("na"))
    )
    mapped = (
        b.join(na, "grp")
        .select(
            "grp",
            F.expr("(rk_b * na + nb - 1) div nb").alias("rk_a"),
        )
        .join(a.select("grp", "rk_a", "val_a"), ["grp", "rk_a"])
    )
    return (
        mapped.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.col("val_a").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_matched"),
            F.min("val_a").alias("min_matched"),
            F.max("val_a").alias("max_matched"),
        )
        .orderBy("grp")
    )


# --------------------------------------------------------------------------
# X166 — exact proportional allocation (Hamilton largest-remainder
# apportionment): split an integer budget across groups ∝ their counts
# so the parts sum EXACTLY to the whole — the quota/budget/sampling-
# allocation primitive where naive rounding leaves residue.
# --------------------------------------------------------------------------
@query(
    "q_allocate_budget",
    oracle="""
    WITH c AS (
      SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type
    ),
    t AS (SELECT sum(cnt) AS n, count(*) AS k FROM c),
    base AS (
      SELECT event_type, cnt,
             (1000000 * cnt) // n AS base_q,
             (1000000 * cnt) % n AS rem,
             n
      FROM c, t
    ),
    ranked AS (
      SELECT event_type, cnt, base_q,
             row_number() OVER (ORDER BY rem DESC, event_type) AS rr,
             1000000 - sum(base_q) OVER () AS leftover
      FROM base
    )
    SELECT event_type, CAST(cnt AS BIGINT) AS cnt,
           CAST(base_q + CASE WHEN rr <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS quota
    FROM ranked ORDER BY event_type
    """,
)
def q_allocate_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allocate a 1,000,000-unit budget across event types proportional
    to their volumes, summing exactly to the budget: integer floor
    quotas + the Hamilton largest-remainder distribution of the
    leftover units (remainder-descending, type tiebreak).

    Everything is integer arithmetic — quotas, remainders, the
    leftover count, the rank cutoff — so the allocation is the same in
    any engine and any partitioning, and Σquota = budget is an
    identity, not a hope. Scale shape: one fact-sized two-phase count
    agg; the apportionment runs over the groups-sized table (windows
    on a non-foldable constant key)."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    t = c.agg(F.sum("cnt").alias("n"))
    base = c.crossJoin(F.broadcast(t)).select(
        "event_type",
        "cnt",
        F.expr("(1000000 * cnt) div n").alias("base_q"),
        F.expr("(1000000 * cnt) % n").alias("rem"),
    )
    wk = F.pmod(F.col("cnt"), F.lit(1))
    ranked = base.select(
        "event_type",
        "cnt",
        "base_q",
        F.row_number()
        .over(W.partitionBy(wk).orderBy(F.col("rem").desc(), "event_type"))
        .alias("rr"),
        (F.lit(1000000) - F.sum("base_q").over(W.partitionBy(wk))).alias(
            "leftover"
        ),
    )
    return (
        ranked.select(
            "event_type",
            F.col("cnt").cast("bigint").alias("cnt"),
            (
                F.col("base_q")
                + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("quota"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# X168 — rolling correlation between two daily series (purchase vs
# error volumes): windowed Pearson over EXACT integer moment sums —
# the co-movement monitor, free of float accumulation.
# --------------------------------------------------------------------------
@query(
    "q_rolling_corr",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS di,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x,
             sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS y
      FROM events GROUP BY 1, 2
    ),
    rolled AS (
      SELECT d,
             count(*) OVER w AS n,
             sum(x) OVER w AS sx, sum(y) OVER w AS sy,
             sum(x * y) OVER w AS sxy,
             sum(x * x) OVER w AS sx2, sum(y * y) OVER w AS sy2
      FROM daily
      WINDOW w AS (ORDER BY di RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT d, CAST(n AS BIGINT) AS n_days,
           CAST(CAST(CASE WHEN (n*sx2 - sx*sx) > 0 AND (n*sy2 - sy*sy) > 0
                THEN (n*sxy - sx*sy)
                     / sqrt(CAST((n*sx2 - sx*sx) AS DOUBLE)
                            * (n*sy2 - sy*sy))
                END AS DECIMAL(18,6)) AS DOUBLE) + 0.0 AS corr7
    FROM rolled WHERE n >= 3 ORDER BY d
    """,
)
def q_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling Pearson correlation between daily purchase and
    error volumes.

    Determinism: all five moment sums are INTEGER window sums over a
    RANGE frame on the day index (gap-correct), so the correlation
    formula's inputs are identical in any engine — one sqrt/division
    on identical doubles behind the DECIMAL display round, with
    zero-variance windows explicitly NULL (the division guard is an
    integer comparison). Scale shape: one fact-sized conditional
    daily agg; the window runs over the calendar-sized table. A
    per-key variant (correlating thousands of series) partitions the
    same window by key — parallel by construction."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("d"),
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).alias(
            "di"
        ),
    ).agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("x"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
            "y"
        ),
    )
    w = (
        W.partitionBy(F.pmod(F.col("di"), F.lit(1)))
        .orderBy("di")
        .rangeBetween(-6, 0)
    )
    rolled = daily.select(
        "d",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sx2"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("sy2"),
    )
    vx = F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy")
    corr = F.when(
        (vx > 0) & (vy > 0),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / F.sqrt(vx.cast("double") * vy),
    ).cast("decimal(18,6)").cast("double")
    return (
        rolled.filter(F.col("n") >= 3)
        .select("d", F.col("n").cast("bigint").alias("n_days"),
                corr.alias("corr7"))
        .orderBy("d")
    )


# --------------------------------------------------------------------------
# X169 — lead-lag cross-correlation: Pearson between the purchase and
# error daily series at lags −3..+3 — "which series moves first", the
# diagnostic one step past X168's contemporaneous correlation.
# --------------------------------------------------------------------------
@query(
    "q_lead_lag_corr",
    oracle="""
    WITH daily AS (
      SELECT datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS di,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x,
             sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS y
      FROM events GROUP BY 1
    ),
    lags AS (SELECT unnest(generate_series(-3, 3)) AS lag),
    pairs AS (
      SELECT l.lag, a.x, b.y
      FROM lags l
      JOIN daily a ON TRUE
      JOIN daily b ON b.di = a.di + l.lag
    ),
    m AS (
      SELECT lag, count(*) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy,
             sum(x*x) AS sx2, sum(y*y) AS sy2
      FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
           CAST(CAST(CASE WHEN (n*sx2 - sx*sx) > 0 AND (n*sy2 - sy*sy) > 0
                THEN (n*sxy - sx*sy)
                     / sqrt(CAST((n*sx2 - sx*sx) AS DOUBLE)
                            * (n*sy2 - sy*sy)) END
                AS DECIMAL(18,6)) AS DOUBLE) + 0.0 AS xcorr
    FROM m ORDER BY lag
    """,
)
def q_lead_lag_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation of daily purchase volume against error volume
    shifted by −3..+3 days (positive lag = errors follow purchases).

    Same exactness contract as q_rolling_corr: the lag alignment is an
    integer-keyed self-join of the calendar-sized daily table, the
    moments are integer sums, and the Pearson formula runs once per
    lag on identical doubles. Scale shape: facts are touched once (the
    daily agg); the 7-lag × days pair table is calendar-sized."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).alias(
            "di"
        )
    ).agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("x"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
            "y"
        ),
    )
    lags = daily.sparkSession.range(-3, 4).select(
        F.col("id").alias("lag")
    )
    b = daily.select(F.col("di").alias("di_b"), F.col("y").alias("yb"))
    pairs = (
        daily.crossJoin(F.broadcast(lags))
        .join(b, F.col("di_b") == F.col("di") + F.col("lag"))
        .select("lag", "x", F.col("yb").alias("y"))
    )
    m = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
        F.sum(F.col("y") * F.col("y")).alias("sy2"),
    )
    vx = F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy")
    corr = F.when(
        (vx > 0) & (vy > 0),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / F.sqrt(vx.cast("double") * vy),
    ).cast("decimal(18,6)").cast("double")
    return m.select(
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").cast("bigint").alias("n_pairs"),
        corr.alias("xcorr"),
    ).orderBy("lag")


# --------------------------------------------------------------------------
# X170 — CUSUM change-point detection, all-integer: the day where the
# cumulative deviation from the series mean peaks — level-shift
# localization with zero float arithmetic (scale counts by D so the
# mean never becomes a fraction).
# --------------------------------------------------------------------------
@query(
    "q_changepoint",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS di,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, sum(n) AS total, count(*) AS d
      FROM daily GROUP BY event_type
    ),
    cusum AS (
      SELECT daily.event_type, di,
             sum(n * d - total) OVER (PARTITION BY daily.event_type
                 ORDER BY di
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      FROM daily JOIN tot ON daily.event_type = tot.event_type
    ),
    ranked AS (
      SELECT event_type, di, s,
             row_number() OVER (PARTITION BY event_type
                 ORDER BY abs(s) DESC, di) AS rk
      FROM cusum
    )
    SELECT event_type,
           CAST(di AS BIGINT) AS changepoint_day,
           CAST(s AS BIGINT) AS cusum_scaled
    FROM ranked WHERE rk = 1 ORDER BY event_type
    """,
)
def q_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most likely level-shift day per event type: the argmax of
    |CUSUM| where CUSUM_t = Σ_{i≤t} (nᵢ·D − N) — the deviation-from-
    mean running sum scaled by the day count D so every term is an
    integer (nᵢ − N/D would be fractional; nᵢ·D − N is not).

    Determinism is total — integer counts, integer cusum, integer
    argmax with day tiebreak. Scale shape: one fact-sized daily agg;
    cusum and the argmax run per type over the calendar-sized table
    (keyed windows, parallel by type)."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).alias(
            "di"
        ),
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = daily.groupBy("event_type").agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("d")
    )
    cusum = (
        daily.join(tot, "event_type")
        .withColumn(
            "s",
            F.sum(F.col("n") * F.col("d") - F.col("total")).over(
                W.partitionBy("event_type")
                .orderBy("di")
                .rowsBetween(W.unboundedPreceding, 0)
            ),
        )
    )
    ranked = cusum.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("event_type").orderBy(
                F.abs(F.col("s")).desc(), "di"
            )
        ),
    )
    return (
        ranked.filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("di").cast("bigint").alias("changepoint_day"),
            F.col("s").cast("bigint").alias("cusum_scaled"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# X171 — Benford first-digit audit: observed first-digit shares of
# order totals vs the Benford expectation — the classic anomaly/fraud
# screen, in integer micro-units (the expectations are hardcoded
# integer literals of round(log10(1+1/d)·1e6)).
# --------------------------------------------------------------------------
_BENFORD_MICRO = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


@query(
    "q_benford",
    oracle="""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS d
      FROM orders WHERE o_totalprice > 0
    ),
    c AS (
      SELECT d, count(*) AS cnt, sum(count(*)) OVER () AS total
      FROM digits GROUP BY d
    ),
    e(d, bm) AS (VALUES (1, 301030), (2, 176091), (3, 124939),
                        (4, 96910), (5, 79181), (6, 66947),
                        (7, 57992), (8, 51153), (9, 45757))
    SELECT c.d AS first_digit,
           CAST(cnt AS BIGINT) AS cnt,
           CAST((1000000 * cnt) // total AS BIGINT) AS share_micro,
           CAST(bm AS BIGINT) AS benford_micro,
           CAST((1000000 * cnt) // total - bm AS BIGINT) AS dev_micro
    FROM c JOIN e ON e.d = c.d
    ORDER BY first_digit
    """,
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit distribution of order totals against Benford's law.

    The first digit comes from the CENT-integer's decimal string
    (never from float formatting — both engines stringify the same
    integer); shares are integer micro-floors; the Benford
    expectations are integer literals (round(log10(1+1/d)·1e6)
    precomputed), so the deviation column is exact integer arithmetic
    end to end. Scale shape: one two-phase digit-count agg over the
    facts; everything after is 9 rows. Real deployments screen
    per-entity (GROUP BY account) with the same plan partitioned by
    entity."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 0
    )
    digits = o.select(
        F.expr(
            "CAST(substr(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)"
            " AS STRING), 1, 1) AS BIGINT)"
        ).alias("d")
    )
    c = digits.groupBy("d").agg(F.count(F.lit(1)).alias("cnt"))
    tot = c.agg(F.sum("cnt").alias("total"))
    e = o.sparkSession.createDataFrame(
        [(d, m) for d, m in _BENFORD_MICRO.items()], "d long, bm long"
    )
    return (
        c.crossJoin(F.broadcast(tot))
        .join(F.broadcast(e), "d")
        .select(
            F.col("d").alias("first_digit"),
            F.col("cnt").cast("bigint").alias("cnt"),
            F.expr("(1000000 * cnt) div total")
            .cast("bigint")
            .alias("share_micro"),
            F.col("bm").cast("bigint").alias("benford_micro"),
            F.expr("(1000000 * cnt) div total - bm")
            .cast("bigint")
            .alias("dev_micro"),
        )
        .orderBy("first_digit")
    )


# --------------------------------------------------------------------------
# X173 — cohort LTV curves: cumulative purchase value per user by
# (first-active-week cohort × weeks-since offset) — the revenue
# companion of the X80 retention grid, in integer cent/micro units.
# --------------------------------------------------------------------------
@query(
    "q_cohort_ltv",
    oracle="""
    WITH wk AS (
      SELECT user_id,
             datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7
               AS wi,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                  ELSE 0 END AS cents
      FROM events
    ),
    cohort AS (
      SELECT user_id, min(wi) AS c FROM wk GROUP BY user_id
    ),
    sizes AS (SELECT c, count(*) AS n_users FROM cohort GROUP BY c),
    rev AS (
      SELECT cohort.c, wk.wi - cohort.c AS off, sum(wk.cents) AS cents
      FROM wk JOIN cohort USING (user_id)
      GROUP BY cohort.c, wk.wi - cohort.c
    ),
    cum AS (
      SELECT c, off,
             sum(cents) OVER (PARTITION BY c ORDER BY off
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_cents
      FROM rev
    )
    SELECT CAST(cum.c AS BIGINT) AS cohort_week,
           CAST(off AS BIGINT) AS weeks_since,
           CAST(n_users AS BIGINT) AS n_users,
           CAST((cum_cents * 10000) // n_users AS BIGINT)
             AS ltv_per_user_micro
    FROM cum JOIN sizes ON sizes.c = cum.c
    ORDER BY cohort_week, weeks_since
    """,
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average cumulative purchase value per user, by signup-week
    cohort and weeks since signup — the LTV curve a growth team reads
    next to the retention grid (X80).

    Determinism: purchase values go to integer CENTS at the scan,
    cohort assignment and offsets are integer week arithmetic, the
    cumulative sum is an integer keyed window, and the per-user
    normalization is an integer micro-floor. Scale shape: one
    fact-sized projection + per-user MIN agg; the grid is
    (cohorts × offsets)-sized with keyed cumsum windows — the exact
    retention-cohort plan plus one integer division."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    wk = ev.select(
        "user_id",
        F.expr(
            "(CASE WHEN datediff(CAST(ts AS DATE), DATE '2024-01-01') >= 0 THEN datediff(CAST(ts AS DATE), DATE '2024-01-01') div 7 ELSE -((6 - datediff(CAST(ts AS DATE), DATE '2024-01-01')) div 7) END)"
        ).alias("wi"),
        F.when(
            F.col("event_type") == "purchase",
            F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"),
        )
        .otherwise(0)
        .alias("cents"),
    )
    cohort = wk.groupBy("user_id").agg(F.min("wi").alias("c"))
    sizes = cohort.groupBy("c").agg(F.count(F.lit(1)).alias("n_users"))
    rev = (
        wk.join(cohort, "user_id")
        .groupBy("c", (F.col("wi") - F.col("c")).alias("off"))
        .agg(F.sum("cents").alias("cents"))
    )
    cum = rev.withColumn(
        "cum_cents",
        F.sum("cents").over(
            W.partitionBy("c")
            .orderBy("off")
            .rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    return (
        cum.join(F.broadcast(sizes), "c")
        .select(
            F.col("c").cast("bigint").alias("cohort_week"),
            F.col("off").cast("bigint").alias("weeks_since"),
            F.col("n_users").cast("bigint").alias("n_users"),
            F.expr("(cum_cents * 10000) div n_users")
            .cast("bigint")
            .alias("ltv_per_user_micro"),
        )
        .orderBy("cohort_week", "weeks_since")
    )


# --------------------------------------------------------------------------
# X174 — RFM segmentation: recency/frequency/monetary quintile scores
# per customer (the CRM workhorse), every quintile an integer
# rank-formula bin (X111's equi-depth contract), segments exact.
# --------------------------------------------------------------------------
@query(
    "q_rfm",
    oracle="""
    WITH base AS (
      SELECT o_custkey,
             max(o_orderdate) AS last_o,
             count(*) AS freq,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT o_custkey, freq, cents,
             row_number() OVER (ORDER BY last_o, o_custkey) AS r_rank,
             row_number() OVER (ORDER BY freq, o_custkey) AS f_rank,
             row_number() OVER (ORDER BY cents, o_custkey) AS m_rank,
             count(*) OVER () AS n
      FROM base
    ),
    scored AS (
      SELECT ((r_rank - 1) * 5) // n + 1 AS r,
             ((f_rank - 1) * 5) // n + 1 AS f,
             ((m_rank - 1) * 5) // n + 1 AS m,
             cents
      FROM ranked
    )
    SELECT concat(CAST(r AS VARCHAR), CAST(f AS VARCHAR),
                  CAST(m AS VARCHAR)) AS segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(cents) // count(*) AS BIGINT) AS avg_cents
    FROM scored GROUP BY r, f, m ORDER BY segment
    """,
)
def q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segments: each customer scored 1-5 on Recency (last order
    date), Frequency (order count) and Monetary (total spend), the
    125-cell segment grid summarized.

    Determinism: quintiles are the integer rank-formula bins
    ((rank−1)·5 div n — the X111 equi-depth contract, no ntile
    remainder spreading, no percentile interpolation) over TOTAL
    orders with id tiebreaks; spend is integer cents; segment labels
    and averages are exact. Scale shape: one fact-sized customer agg;
    the three rankings run over the customer table — grouped_ranks-
    upgradable verbatim when customers outgrow comfortable windows
    (here the single-sequence form keeps the oracle 1:1)."""
    from pyspark.sql.window import Window as W

    o = load_table(spark, sf_dir, "orders")
    base = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_o"),
        F.count(F.lit(1)).alias("freq"),
        F.expr(
            "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100"
            " AS BIGINT)"
        ).alias("cents"),
    )
    wk = F.pmod(F.col("freq"), F.lit(1))
    ranked = base.select(
        "freq",
        "cents",
        F.row_number()
        .over(W.partitionBy(wk).orderBy("last_o", "o_custkey"))
        .alias("r_rank"),
        F.row_number()
        .over(W.partitionBy(wk).orderBy("freq", "o_custkey"))
        .alias("f_rank"),
        F.row_number()
        .over(W.partitionBy(wk).orderBy("cents", "o_custkey"))
        .alias("m_rank"),
        F.count(F.lit(1)).over(W.partitionBy(wk)).alias("n"),
    )
    scored = ranked.select(
        F.expr("((r_rank - 1) * 5) div n + 1").alias("r"),
        F.expr("((f_rank - 1) * 5) div n + 1").alias("f"),
        F.expr("((m_rank - 1) * 5) div n + 1").alias("m"),
        "cents",
    )
    return (
        scored.groupBy("r", "f", "m")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.expr("sum(cents) div count(*)")
            .cast("bigint")
            .alias("avg_cents"),
        )
        .select(
            F.concat(
                F.col("r").cast("string"),
                F.col("f").cast("string"),
                F.col("m").cast("string"),
            ).alias("segment"),
            F.col("n_customers").cast("bigint").alias("n_customers"),
            "avg_cents",
        )
        .orderBy("segment")
    )


# --------------------------------------------------------------------------
# X175 — ABC (Pareto 80/20) analysis: parts classified A/B/C by
# cumulative revenue share — cross-multiplied integer thresholds over
# the two-level ranked prefix sum (the Lorenz-curve cut points as a
# classification, next to X133's Gini summary).
# --------------------------------------------------------------------------
@query(
    "q_abc_analysis",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS cents
      FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
      SELECT l_partkey, cents,
             sum(cents) OVER (ORDER BY cents DESC, l_partkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             sum(cents) OVER () AS total
      FROM rev
    ),
    classed AS (
      SELECT CASE WHEN cum * 100 <= 80 * total THEN 'A'
                  WHEN cum * 100 <= 95 * total THEN 'B'
                  ELSE 'C' END AS cls,
             cents
      FROM ranked
    )
    SELECT cls,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(cents) AS BIGINT) AS revenue_cents
    FROM classed GROUP BY cls ORDER BY cls
    """,
)
def q_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B/C part classes by cumulative revenue share: A = parts
    inside the first 80% of revenue (descending), B to 95%, C the
    tail.

    Determinism: revenue is integer cents, the cumulative is an
    integer prefix sum over a total order, and the class cuts are the
    cross-multiplied inequalities cum·100 ≤ 80·total — no percentage
    float ever materializes. Scale shape: one fact-sized per-part agg;
    the global descending cumulative runs on
    operators/sampling.py:ranked_prefix_sums (range-partitioned
    two-level — no single-task sort of the part table), and the class
    rollup is 3 groups."""
    from mysql_cdc_to_http_spark.operators.sampling import (
        ranked_prefix_sums,
    )

    rev = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(
            F.expr(
                "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100"
                " AS BIGINT)"
            ).alias("cents")
        )
    )
    # r16 (guide §2.4/§5): the total and the class projection both
    # consume the ranked cumulative — un-persisted, each re-ran the
    # fact-sized per-part aggregate AND the range-partitioned prefix
    # pass (measured plan: 15 Exchange). The ranked frame is
    # part-cardinality-sized: persist it, one fact pass.
    ranked = caching.persist(
        ranked_prefix_sums(
            rev, [F.col("cents").desc(), F.col("l_partkey").asc()], ["cents"]
        )
        .withColumnRenamed("cents__cum", "cum")
    )
    tot = ranked.agg(F.sum("cents").alias("total"))
    classed = ranked.crossJoin(F.broadcast(tot)).select(
        F.when(F.col("cum") * 100 <= 80 * F.col("total"), "A")
        .when(F.col("cum") * 100 <= 95 * F.col("total"), "B")
        .otherwise("C")
        .alias("cls"),
        "cents",
    )
    return (
        classed.groupBy("cls")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
        .orderBy("cls")
    )


# --------------------------------------------------------------------------
# X176 — XmR control chart (individuals + moving range): daily volumes
# screened against ±2.66·MR̄ natural process limits — the SPC
# monitoring primitive, with the limit test CROSS-MULTIPLIED into pure
# integer arithmetic (2.66 = 2660/1000; no float limit ever computed).
# --------------------------------------------------------------------------
@query(
    "q_control_chart",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS di,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    mr AS (
      SELECT event_type, di, n,
             abs(n - lag(n) OVER (PARTITION BY event_type ORDER BY di))
               AS m
      FROM daily
    ),
    stats AS (
      SELECT event_type,
             count(*) AS d,
             sum(n) AS sn,
             sum(m) AS sm,
             count(m) AS dm
      FROM mr GROUP BY event_type
    )
    SELECT mr.event_type,
           CAST(max(stats.d) AS BIGINT) AS n_days,
           CAST(max(stats.sm) AS BIGINT) AS mr_sum,
           CAST(sum(CASE WHEN abs(mr.n * stats.d - stats.sn)
                              * 1000 * stats.dm
                         > 2660 * stats.sm * stats.d
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
    FROM mr JOIN stats USING (event_type)
    GROUP BY mr.event_type ORDER BY mr.event_type
    """,
)
def q_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Individuals/moving-range (XmR) control screen per event type:
    days whose volume leaves the ±2.66·MR̄ natural process limits.

    Determinism is total: volumes and moving ranges are integers, and
    the limit test |x − x̄| > 2.66·MR̄ is cross-multiplied to
    |x·D − Σx|·1000·Dₘ > 2660·ΣMR·D — the 2.66 XmR constant becomes
    the integer 2660, and neither mean nor limit is ever a float
    (q_seasonal_anomaly's comparison rule with a ratio constant).
    Scale shape: one fact-sized daily agg; the lag window and the
    screen run per type over the calendar-sized table."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).alias(
            "di"
        ),
    ).agg(F.count(F.lit(1)).alias("n"))
    mr = daily.withColumn(
        "m",
        F.abs(
            F.col("n")
            - F.lag("n").over(W.partitionBy("event_type").orderBy("di"))
        ),
    )
    stats = mr.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("d"),
        F.sum("n").alias("sn"),
        F.sum("m").alias("sm"),
        F.count("m").alias("dm"),
    )
    j = mr.join(F.broadcast(stats), "event_type")
    viol = (
        F.abs(F.col("n") * F.col("d") - F.col("sn"))
        * 1000
        * F.col("dm")
        > 2660 * F.col("sm") * F.col("d")
    )
    return (
        j.groupBy("event_type")
        .agg(
            F.max("d").cast("bigint").alias("n_days"),
            F.max("sm").cast("bigint").alias("mr_sum"),
            F.sum(F.when(viol, 1).otherwise(0))
            .cast("bigint")
            .alias("n_violations"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# X177 — logarithmic latency histogram: view→purchase latencies in
# power-of-two buckets, the observability-style duration histogram —
# bucket = bit length of the integer latency, computed EXACTLY as
# length(bin(n)) (no float log2 whose rounding could flip a
# power-of-two boundary).
# --------------------------------------------------------------------------
@query(
    "q_latency_histogram",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS fv
      FROM events GROUP BY user_id
    ),
    conv AS (
      SELECT f.user_id,
             CAST(epoch_us(min(e.ts)) - epoch_us(f.fv) AS BIGINT)
               // 1000000 AS delta_s
      FROM firsts f JOIN events e
        ON e.user_id = f.user_id AND e.event_type = 'purchase'
       AND e.ts > f.fv
      WHERE f.fv IS NOT NULL
      GROUP BY f.user_id, f.fv
    ),
    bucketed AS (
      SELECT length(bin(delta_s + 1)) AS b FROM conv
    )
    SELECT CAST(b AS BIGINT) AS bucket,
           CAST(power(2, b - 1) - 1 AS BIGINT) AS lo_s,
           CAST(power(2, b) - 2 AS BIGINT) AS hi_s,
           CAST(count(*) AS BIGINT) AS n
    FROM bucketed GROUP BY b ORDER BY bucket
    """,
)
def q_latency_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two histogram of view→purchase latencies (the
    Prometheus-style exponential duration buckets): bucket b holds
    latencies in [2^(b−1)−1, 2^b−2] seconds.

    Determinism: the bucket is the BIT LENGTH of the integer latency
    (+1 for zero), computed as length(bin(n)) — pure integer/string,
    immune to the float-log2 power-of-two boundary (log2(2^k) is
    exact, but a correctly-vs-nearly-rounded libm disagreement one ulp
    below would flip floor; bit length cannot). Bucket bounds come
    from integer power(2, b) on the 9-row output. Scale shape: the
    q_time_to_convert subject plan plus one tiny hash agg — the
    histogram itself is ≤64 rows by construction at ANY scale."""
    ev = load_table(spark, sf_dir, "events")
    firsts = (
        ev.groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "view", F.col("ts"))
            ).alias("fv")
        )
        .filter(F.col("fv").isNotNull())
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    conv = (
        firsts.join(
            purch,
            (F.col("user_id") == F.col("pu"))
            & (F.col("pts") > F.col("fv")),
        )
        .groupBy("user_id", "fv")
        .agg(F.min("pts").alias("fp"))
        .select(
            F.expr(
                "(unix_micros(fp) - unix_micros(fv)) div 1000000"
            ).alias("delta_s")
        )
    )
    bucketed = conv.select(
        F.length(F.bin(F.col("delta_s") + 1)).alias("b")
    )
    return (
        bucketed.groupBy("b")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("b").cast("bigint").alias("bucket"),
            (F.pow(F.lit(2.0), F.col("b") - 1) - 1)
            .cast("bigint")
            .alias("lo_s"),
            (F.pow(F.lit(2.0), F.col("b")) - 2)
            .cast("bigint")
            .alias("hi_s"),
            F.col("n").cast("bigint").alias("n"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# X181 — exposure-response curve: conversion rate as a function of
# view exposure — the dose-response readout behind "do more views
# cause more purchases", integer micro-rates per exposure bucket.
# --------------------------------------------------------------------------
@query(
    "q_exposure_response",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               AS views,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM events GROUP BY user_id
    ),
    bucketed AS (
      SELECT CASE WHEN views = 0 THEN 0
                  WHEN views <= 5 THEN 1
                  WHEN views <= 15 THEN 2
                  WHEN views <= 30 THEN 3
                  ELSE 4 END AS exposure,
             converted
      FROM per_user
    )
    SELECT CAST(exposure AS BIGINT) AS exposure_bucket,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(converted) AS BIGINT) AS n_converted,
           CAST((1000000 * sum(converted)) // count(*) AS BIGINT)
             AS conv_rate_micro
    FROM bucketed GROUP BY exposure ORDER BY exposure_bucket
    """,
)
def q_exposure_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion rate by view-exposure bucket (0, 1-5, 6-15, 16-30,
    31+ views): the dose-response curve read before anyone claims the
    funnel causes anything.

    Determinism: exposure buckets are integer CASE cuts on integer
    view counts, conversion is an integer max-flag, and rates are
    integer micro-floors — nothing to disagree on. Scale shape: one
    fact-sized per-user two-phase agg, then a 5-row rollup. (The
    causal caveat belongs to the reader: X127's randomized A/B is the
    engine's estimator for effects; this query characterizes the
    OBSERVED curve.)"""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).alias("views"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )
    exposure = (
        F.when(F.col("views") == 0, 0)
        .when(F.col("views") <= 5, 1)
        .when(F.col("views") <= 15, 2)
        .when(F.col("views") <= 30, 3)
        .otherwise(4)
    )
    return (
        per_user.select(exposure.alias("exposure"), "converted")
        .groupBy("exposure")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("converted").cast("bigint").alias("n_converted"),
            F.expr("(1000000 * sum(converted)) div count(*)")
            .cast("bigint")
            .alias("conv_rate_micro"),
        )
        .select(
            F.col("exposure").cast("bigint").alias("exposure_bucket"),
            "n_users",
            "n_converted",
            "conv_rate_micro",
        )
        .orderBy("exposure_bucket")
    )


# --------------------------------------------------------------------------
# X182 — purchase cadence: the distribution of per-user gaps between
# consecutive purchases (rank-exact median/p90 in integer hours) — the
# replenishment-cycle metric behind reorder reminders and CLV models.
# --------------------------------------------------------------------------
@query(
    "q_purchase_cadence",
    oracle="""
    WITH p AS (
      SELECT user_id, ts, event_id,
             lag(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS prev
      FROM events WHERE event_type = 'purchase'
    ),
    gaps AS (
      SELECT user_id,
             CAST(epoch_us(ts) - epoch_us(prev) AS BIGINT)
               // 3600000000 AS gap_h
      FROM p WHERE prev IS NOT NULL
    ),
    ranked AS (
      SELECT gap_h,
             row_number() OVER (ORDER BY gap_h, user_id) AS rn,
             count(*) OVER () AS n
      FROM gaps
    )
    SELECT CAST(max(n) AS BIGINT) AS n_gaps,
           CAST(max(CASE WHEN rn = (n + 1) // 2 THEN gap_h END)
                AS BIGINT) AS median_gap_h,
           CAST(max(CASE WHEN rn = n - (n + 9) // 10 + 1 THEN gap_h END)
                AS BIGINT) AS p90_gap_h
    FROM ranked
    """,
)
def q_purchase_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How often buyers come back: the distribution of hours between a
    user's consecutive purchases, summarized by rank-exact lower
    median and p90.

    Determinism: gaps floor to integer hours; the quantiles are order
    statistics at integer ranks over a total order (the
    q_time_to_convert discipline applied to repeat behavior — that
    query measures the FIRST conversion, this one the cycle after
    it). Scale shape: one keyed lag window over the purchase subset,
    then the two-level global ranking (ranked_prefix_sums) and a
    1-row reduction."""
    from mysql_cdc_to_http_spark.operators.sampling import (
        ranked_prefix_sums,
    )
    from pyspark.sql.window import Window as W

    p = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .withColumn(
            "prev",
            F.lag("ts").over(
                W.partitionBy("user_id").orderBy("ts", "event_id")
            ),
        )
        .filter(F.col("prev").isNotNull())
        .select(
            "user_id",
            F.expr(
                "(unix_micros(ts) - unix_micros(prev)) div 3600000000"
            ).alias("gap_h"),
        )
        .withColumn("__one", F.lit(1).cast("bigint"))
    )
    ranked = ranked_prefix_sums(
        p, [F.col("gap_h").asc(), F.col("user_id").asc()], ["__one"]
    ).withColumnRenamed("__one__cum", "rn")
    stats = ranked.agg(F.count(F.lit(1)).alias("n"))
    j = ranked.crossJoin(F.broadcast(stats))
    med_rank = F.expr("(n + 1) div 2")
    p90_rank = F.expr("n - (n + 9) div 10 + 1")
    return j.agg(
        F.max("n").cast("bigint").alias("n_gaps"),
        F.max(F.when(F.col("rn") == med_rank, F.col("gap_h")))
        .cast("bigint")
        .alias("median_gap_h"),
        F.max(F.when(F.col("rn") == p90_rank, F.col("gap_h")))
        .cast("bigint")
        .alias("p90_gap_h"),
    )


# --------------------------------------------------------------------------
# X208 — mergeable equi-width histogram sketch → deterministic quantile
# estimates. Completes the mergeable-sketch family: HLL (distinct, X68),
# CMS (frequency, X97), KMV (distinct-sample, X202) — and now rank.
# --------------------------------------------------------------------------
@query(
    "q_quantile_sketch",
    oracle="""
    WITH v AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders
    ),
    s AS (
      SELECT count(*) AS n, min(v) AS vmin, max(v) AS vmax FROM v
    ),
    w AS (
      SELECT n, vmin, ((vmax - vmin) // 64) + 1 AS width FROM s
    ),
    bins AS (
      SELECT (v.v - w.vmin) // w.width AS bin, count(*) AS cnt
      FROM v, w GROUP BY 1
    ),
    cum AS (
      SELECT bin, cnt,
             sum(cnt) OVER (ORDER BY bin) AS cum,
             sum(cnt) OVER (ORDER BY bin) - cnt AS cum_before
      FROM bins
    ),
    qs AS (
      SELECT * FROM (VALUES (1, 4), (1, 2), (3, 4), (19, 20))
        AS t(q_num, q_den)
    ),
    k AS (
      SELECT q_num, q_den,
             (q_num * w.n + q_den - 1) // q_den AS k, w.vmin, w.width
      FROM qs, w
    ),
    hit AS (
      SELECT k.q_num, k.q_den, k.k,
             min(c.bin) AS bin
      FROM k JOIN cum c ON c.cum >= k.k
      GROUP BY 1, 2, 3
    )
    SELECT h.q_num, h.q_den, h.k, h.bin,
           CAST(k.vmin + h.bin * k.width
                + ((h.k - c.cum_before - 1) * k.width) // c.cnt
                AS BIGINT) AS est
    FROM hit h
    JOIN k ON k.q_num = h.q_num AND k.q_den = h.q_den
    JOIN cum c ON c.bin = h.bin
    ORDER BY h.q_num * 1000 / h.q_den
    """,
)
def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X208 — rank/quantile estimation from a MERGEABLE equi-width
    histogram sketch, the 4th member of the sketch family (HLL =
    distinct, CMS = frequency, KMV = distinct-sample, histogram =
    rank). Per-partition bin counts combine map-side (partial hash
    aggregate — the mergeability that lets 1000 executors each own a
    shard of the histogram and union for free; plan-tested like X68);
    the quantile read-out touches only the 64-row sketch.

    Zero float: bin width is an integer ceiling over the global range,
    the rank target is the integer ceiling k = ⌈q·n⌉ (cross-multiplied
    rationals), and the within-bin estimate interpolates with integer
    division — so the DuckDB hash certifies the whole estimator, and
    the error bound |est − exact| ≤ width is pinned by a test against
    the exact percentile. At 100 TB the read-out cost is unchanged
    (64 rows); only the one pass that bins the data scales."""
    v = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v")
    )
    stats = v.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("v").alias("vmin"),
        F.max("v").alias("vmax"),
    ).select(
        "n",
        "vmin",
        (F.expr("(vmax - vmin) div 64") + 1).alias("width"),
    )
    bins = (
        v.crossJoin(F.broadcast(stats))
        .select(F.expr("(v - vmin) div width").alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    from pyspark.sql.window import Window as W

    cum = bins.select(
        "bin",
        "cnt",
        F.sum("cnt").over(W.orderBy("bin")).alias("cum"),
        (F.sum("cnt").over(W.orderBy("bin")) - F.col("cnt")).alias(
            "cum_before"
        ),
    )
    qs = spark.createDataFrame(
        [(1, 4), (1, 2), (3, 4), (19, 20)], "q_num int, q_den int"
    )
    k = qs.crossJoin(F.broadcast(stats)).select(
        "q_num",
        "q_den",
        F.expr("(q_num * n + q_den - 1) div q_den").alias("k"),
        "vmin",
        "width",
    )
    hit = (
        k.join(cum, F.col("cum") >= F.col("k"))
        .groupBy("q_num", "q_den", "k", "vmin", "width")
        .agg(F.min("bin").alias("bin"))
    )
    est = (
        hit.join(cum.select("bin", "cnt", "cum_before"), "bin")
        .select(
            "q_num",
            "q_den",
            "k",
            "bin",
            (
                F.col("vmin")
                + F.col("bin") * F.col("width")
                + F.expr("((k - cum_before - 1) * width) div cnt")
            ).cast("bigint").alias("est"),
        )
        .orderBy(F.expr("q_num * 1000 / q_den"))
    )
    return est


# --------------------------------------------------------------------------
# X215 — distribution-free grouped quantiles from a DETERMINISTIC
# uniform sample (the KMV spine, X202, pointed at rank estimation).
# Complements X208's equi-width histogram sketch: the histogram's
# error depends on the value RANGE (heavy tails smear it); the
# sample-quantile estimator is distribution-free with the DKW bound
# sup|F_m − F| ≤ sqrt(ln(2/δ)/(2m)) — and because the sample is a pure
# md5 function of the key, the estimates are cross-engine EXACT, so
# the oracle certifies both the estimates and the bound check.
# --------------------------------------------------------------------------
@query(
    "q_sample_quantiles",
    oracle="""
    WITH v AS (
      SELECT o_orderpriority AS prio, o_orderkey AS okey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             md5('kmvq-v1|' || CAST(o_orderkey AS VARCHAR)) AS h
      FROM orders
    ),
    samp AS (
      SELECT prio, okey, cents,
             row_number() OVER (PARTITION BY prio ORDER BY h, okey) AS sr
      FROM v QUALIFY sr <= 256
    ),
    m AS (SELECT prio, CAST(max(sr) AS BIGINT) AS m FROM samp GROUP BY prio),
    ranked AS (
      SELECT s.prio, s.cents,
             row_number() OVER (PARTITION BY s.prio
                                ORDER BY s.cents, s.okey) AS vr
      FROM samp s
    ),
    est AS (
      SELECT r.prio,
             max(CASE WHEN r.vr = (m.m + 1) // 2 THEN r.cents END)
               AS est_p50_cents,
             max(CASE WHEN r.vr = (9 * m.m + 9) // 10 THEN r.cents END)
               AS est_p90_cents
      FROM ranked r JOIN m ON r.prio = m.prio
      GROUP BY r.prio
    ),
    audit AS (
      SELECT v.prio, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN v.cents <= e.est_p50_cents THEN 1 ELSE 0 END)
                  AS BIGINT) AS cnt_le_p50,
             CAST(sum(CASE WHEN v.cents <= e.est_p90_cents THEN 1 ELSE 0 END)
                  AS BIGINT) AS cnt_le_p90
      FROM v JOIN est e ON v.prio = e.prio
      GROUP BY v.prio
    )
    SELECT a.prio AS o_orderpriority, a.n, m.m,
           e.est_p50_cents, e.est_p90_cents,
           a.cnt_le_p50, a.cnt_le_p90,
           abs(a.cnt_le_p50 * 1000 - 500 * a.n) <= 95 * a.n
             AS p50_within_dkw,
           abs(a.cnt_le_p90 * 1000 - 900 * a.n) <= 95 * a.n
             AS p90_within_dkw
    FROM audit a JOIN m ON a.prio = m.prio JOIN est e ON a.prio = e.prio
    ORDER BY o_orderpriority
    """,
)
def q_sample_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped p50/p90 estimation from a bottom-256-by-md5 sample with
    a DKW-certified error audit (X215). Per order priority: take the
    256 orders with the smallest md5('kmvq-v1|'||orderkey) — a
    deterministic uniform sample, the X202 KMV spine — read the sample
    order statistics at ceil(p·m), then audit against the FULL group
    with one conditional aggregate: |#{v ≤ q̂}/n − p| must sit inside
    0.095 (DKW ε = sqrt(ln(2/0.05)/512) ≈ 0.085 at m = 256, plus 1/m
    discreteness), checked in integer cross-multiplied form so no
    float ever divides.

    Why this next to X208's histogram sketch: equi-width bins tie the
    error to the value RANGE (one outlier order of magnitude ruins
    every bin), while the sample quantile is distribution-free — the
    bound holds for any totalprice distribution. And unlike
    approx_percentile (X62 covers it), the estimate is a pure function
    of the data, so it is reproducible run-to-run, engine-to-engine.

    Scale shape: the sample spine is the X202 window (group-keyed
    row_number, never global; swap for a bottom-k aggregate at extreme
    group cardinality — semantics unchanged); everything downstream of
    the cut runs on ≤256 rows/group; the audit is one map-side-partial
    conditional aggregate over the facts with the groups-sized
    estimate table broadcast. Nothing fact-sized ever sorts."""
    from pyspark.sql.window import Window as W

    v = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderkey").alias("okey"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.md5(
            F.concat_ws(
                "|", F.lit("kmvq-v1"), F.col("o_orderkey").cast("string")
            )
        ).alias("h"),
    )
    sr = F.row_number().over(W.partitionBy("prio").orderBy("h", "okey"))
    samp = v.withColumn("sr", sr).filter(F.col("sr") <= 256)
    m = samp.groupBy("prio").agg(F.max("sr").cast("bigint").alias("m"))
    vr = F.row_number().over(W.partitionBy("prio").orderBy("cents", "okey"))
    ranked = samp.withColumn("vr", vr)
    est = (
        ranked.join(F.broadcast(m), "prio")
        .groupBy("prio")
        .agg(
            F.max(
                F.when(
                    F.col("vr") == F.expr("(m + 1) div 2"), F.col("cents")
                )
            ).alias("est_p50_cents"),
            F.max(
                F.when(
                    F.col("vr") == F.expr("(9 * m + 9) div 10"),
                    F.col("cents"),
                )
            ).alias("est_p90_cents"),
        )
    )
    audit = (
        v.join(F.broadcast(est), "prio")
        .groupBy("prio")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when(F.col("cents") <= F.col("est_p50_cents"), 1).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("cnt_le_p50"),
            F.sum(
                F.when(F.col("cents") <= F.col("est_p90_cents"), 1).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("cnt_le_p90"),
        )
    )
    return (
        audit.join(F.broadcast(m), "prio")
        .join(F.broadcast(est), "prio")
        .select(
            F.col("prio").alias("o_orderpriority"),
            "n",
            "m",
            "est_p50_cents",
            "est_p90_cents",
            "cnt_le_p50",
            "cnt_le_p90",
            (
                F.abs(F.col("cnt_le_p50") * 1000 - 500 * F.col("n"))
                <= 95 * F.col("n")
            ).alias("p50_within_dkw"),
            (
                F.abs(F.col("cnt_le_p90") * 1000 - 900 * F.col("n"))
                <= 95 * F.col("n")
            ).alias("p90_within_dkw"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# X216 — grouped OLS trend fit by EXACT integer moments: closed-form
# slope/intercept/R² for daily revenue vs day index, per order
# priority. Distributed regression with zero FP in the moments: the
# five sums (Σx, Σy, Σx², Σxy, Σy²) are integer aggregates (map-side
# partial, one exchange), and the closed forms are evaluated in
# DECIMAL/HUGEINT with the sign·(abs div) idiom (Spark div truncates,
# DuckDB // floors — they agree only on non-negatives, the q_ewma
# lesson), so both engines produce bit-identical micro-unit outputs.
# Iterative gradient descent would need neither more accuracy nor
# fewer passes: for OLS the sufficient statistics ARE the model.
# --------------------------------------------------------------------------
@query(
    "q_ols_trend",
    oracle="""
    WITH d AS (
      SELECT o_orderpriority AS prio,
             datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
               AS x,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               // 100 AS y
      FROM orders
      GROUP BY 1, 2
    ),
    mo AS (
      SELECT prio, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM d GROUP BY prio
    ),
    cf AS (
      SELECT prio, n, sx, sy,
             n::HUGEINT * sxy::HUGEINT - sx::HUGEINT * sy::HUGEINT AS num,
             n::HUGEINT * sxx::HUGEINT - sx::HUGEINT * sx::HUGEINT AS denx,
             n::HUGEINT * syy::HUGEINT - sy::HUGEINT * sy::HUGEINT AS deny,
             sy::HUGEINT * sxx::HUGEINT - sx::HUGEINT * sxy::HUGEINT AS numi
      FROM mo
    )
    SELECT prio AS o_orderpriority, n AS n_days,
           CASE WHEN denx > 0 THEN
             CAST(CAST(sign(num) AS BIGINT)
                  * ((abs(num) * 1000000) // denx) AS BIGINT) END
             AS slope_micro_per_day,
           CASE WHEN denx > 0 THEN
             CAST(CAST(sign(numi) AS BIGINT)
                  * (abs(numi) // denx) AS BIGINT) END
             AS intercept_dollars,
           CASE WHEN denx > 0 AND deny > 0 THEN
             CAST((num * num * 10000) // (denx * deny) AS BIGINT) END
             AS r2_bp
    FROM cf ORDER BY o_orderpriority
    """,
)
def q_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority revenue trend (X216): OLS slope (micro-dollars per
    day), intercept (dollars), and R² (basis points) of daily revenue
    against the day index since 1992-01-01 — the "is this segment
    growing, and how linearly" question as two exact hash aggregates.

    Shape: days roll up per (priority, day) — one fact-sized exchange
    with map-side partials — then five integer moments per priority
    (group-count-sized), then pure closed-form arithmetic on the tiny
    moment table. Slope numerators are signed, so the expression uses
    sign(x)·(|x| div d): Spark's ``div`` truncates toward zero while
    DuckDB's ``//`` floors, and they agree only on non-negative
    operands (the q_ewma parity lesson). R²'s numerator/denominator
    are non-negative by Cauchy-Schwarz, so it divides directly.

    Unit discipline: y is whole DOLLARS (cents div 100, deterministic)
    to keep num² · 10⁴ inside DECIMAL(38)/HUGEINT at the tested
    scales; at a 100× bigger corpus rescale y to k$ — the closed form
    is unit-covariant (slope scales with y, R² is unit-free), so the
    operator does not change shape. A gradient-descent fit would add
    FP nondeterminism for zero benefit: the sufficient statistics ARE
    the exact model for OLS."""
    daily = _daily_revenue(spark, sf_dir)
    mo = _ols_moments(daily)
    cf = _ols_closed_form(mo)
    return cf.select(
        F.col("prio").alias("o_orderpriority"),
        F.col("n").alias("n_days"),
        F.expr(
            "CASE WHEN denx > 0 THEN CAST(CAST(sign(num) AS BIGINT)"
            " * CAST((CAST(abs(num) AS DECIMAL(31,0)) * 1000000) div denx"
            "        AS BIGINT) AS BIGINT) END"
        ).alias("slope_micro_per_day"),
        F.expr(
            "CASE WHEN denx > 0 THEN CAST(CAST(sign(numi) AS BIGINT)"
            " * CAST(abs(numi) div denx AS BIGINT) AS BIGINT) END"
        ).alias("intercept_dollars"),
        F.expr(
            "CASE WHEN denx > 0 AND deny > 0 THEN"
            " CAST((CAST(num AS DECIMAL(31,0)) * CAST(num AS DECIMAL(31,0))"
            "       * 10000) div (denx * deny) AS BIGINT) END"
        ).alias("r2_bp"),
    ).orderBy("o_orderpriority")


def _daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(prio, x=day index since 1992-01-01, y=daily revenue in whole
    dollars) — the shared integer series under X216/X220."""
    x = F.datediff(
        F.to_date("o_orderdate"), F.lit("1992-01-01").cast("date")
    )
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("prio"), x.alias("x")
        )
        .agg(
            F.expr(
                "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))"
                " AS BIGINT) div 100"
            ).alias("y")
        )
    )


def _ols_moments(daily: DataFrame) -> DataFrame:
    """Five exact integer moments per group (shared X216/X220)."""
    return daily.groupBy("prio").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )


def _ols_closed_form(mo: DataFrame) -> DataFrame:
    """num/denx/deny/numi in DECIMAL from the integer moments
    (shared X216/X220)."""
    return mo.select(
        "prio",
        "n",
        F.expr(
            "CAST(n AS DECIMAL(12,0)) * CAST(sxy AS DECIMAL(20,0))"
            " - CAST(sx AS DECIMAL(20,0)) * CAST(sy AS DECIMAL(20,0))"
        ).alias("num"),
        F.expr(
            "CAST(n AS DECIMAL(12,0)) * CAST(sxx AS DECIMAL(20,0))"
            " - CAST(sx AS DECIMAL(20,0)) * CAST(sx AS DECIMAL(20,0))"
        ).alias("denx"),
        F.expr(
            "CAST(n AS DECIMAL(12,0)) * CAST(syy AS DECIMAL(20,0))"
            " - CAST(sy AS DECIMAL(20,0)) * CAST(sy AS DECIMAL(20,0))"
        ).alias("deny"),
        F.expr(
            "CAST(sy AS DECIMAL(20,0)) * CAST(sxx AS DECIMAL(20,0))"
            " - CAST(sx AS DECIMAL(20,0)) * CAST(sxy AS DECIMAL(20,0))"
        ).alias("numi"),
    )


# --------------------------------------------------------------------------
# X220 — split-conformal prediction intervals on the OLS trend
# (Papadopoulos et al. 2002 / Vovk): distribution-free finite-sample
# coverage from a calibration split, with ZERO floating point — the
# residual |y·denx − num·x − numi| keeps the OLS prediction as an
# exact rational over the common denominator denx, so order
# statistics, the conformal quantile, and the holdout coverage audit
# are all integer comparisons (DECIMAL(38)/HUGEINT).
# --------------------------------------------------------------------------
@query(
    "q_conformal_ols",
    oracle="""
    WITH d AS (
      SELECT o_orderpriority AS prio,
             datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
               AS x,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               // 100 AS y
      FROM orders GROUP BY 1, 2
    ),
    lab AS (
      SELECT *,
             ('0x' || substr(md5('conf-v1|' || prio || '|'
                                 || CAST(x AS VARCHAR)), 1, 6))::INTEGER
               % 100 AS b
      FROM d
    ),
    mo AS (
      SELECT prio, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM lab WHERE b < 40 GROUP BY prio
    ),
    cf AS (
      SELECT prio,
             n::HUGEINT * sxy::HUGEINT - sx::HUGEINT * sy::HUGEINT AS num,
             n::HUGEINT * sxx::HUGEINT - sx::HUGEINT * sx::HUGEINT AS denx,
             sy::HUGEINT * sxx::HUGEINT - sx::HUGEINT * sxy::HUGEINT AS numi
      FROM mo
    ),
    resid AS (
      SELECT lab.prio, lab.x, lab.b,
             abs(lab.y::HUGEINT * cf.denx
                 - cf.num * lab.x::HUGEINT - cf.numi) AS rs
      FROM lab JOIN cf ON lab.prio = cf.prio
      WHERE lab.b >= 40
    ),
    cal AS (
      SELECT prio, rs,
             row_number() OVER (PARTITION BY prio ORDER BY rs, x) AS rn,
             count(*) OVER (PARTITION BY prio) AS n_cal
      FROM resid WHERE b < 70
    ),
    qhat AS (
      SELECT prio, CAST(max(n_cal) AS BIGINT) AS n_cal,
             max(CASE WHEN rn = least((9 * n_cal + 18) // 10, n_cal)
                      THEN rs END) AS q_scaled
      FROM cal GROUP BY prio
    ),
    cov AS (
      SELECT r.prio, CAST(count(*) AS BIGINT) AS n_test,
             CAST(sum(CASE WHEN r.rs <= q.q_scaled THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_covered
      FROM resid r JOIN qhat q ON r.prio = q.prio
      WHERE r.b >= 70 GROUP BY r.prio
    ),
    pooled AS (
      SELECT (sum(n_covered) * 1000000) // sum(n_test) AS pooled_micro
      FROM cov
    )
    SELECT q.prio AS o_orderpriority, q.n_cal, c.n_test,
           CASE WHEN cf.denx > 0
                THEN CAST(q.q_scaled // cf.denx AS BIGINT) END AS q_dollars,
           c.n_covered,
           (c.n_covered * 1000000) // c.n_test AS coverage_micro,
           p.pooled_micro AS pooled_coverage_micro,
           p.pooled_micro >= 850000 AS pooled_coverage_ok
    FROM qhat q JOIN cov c ON q.prio = c.prio JOIN cf ON cf.prio = q.prio,
         pooled p
    ORDER BY o_orderpriority
    """,
)
def q_conformal_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal intervals for the X216 trend model (X220): days
    split 40/30/30 (train/calibrate/test) by md5(prio|day); the model
    fits on TRAIN (shared _ols_moments/_ols_closed_form), the 90%
    conformal quantile q̂ is the ceil(0.9·(n_cal+1))-th order statistic
    of calibration |residuals|, and the TEST split audits coverage —
    the finite-sample, distribution-free guarantee (coverage ≥ 1−α up
    to exchangeability noise; the gate is on POOLED coverage (≥85%),
    because that marginal statement is what conformal actually
    guarantees — per-group coverage on a 90-day test split can dip
    into the 70s by exchangeability noise alone, and the per-group
    counts are emitted as data, not gated).

    The no-float trick: with slope = num/denx and intercept =
    numi/denx exact rationals, |y − ŷ| · denx = |y·denx − num·x −
    numi| is an INTEGER — so ranking residuals, picking q̂, and the
    holdout comparisons are integer-exact in both engines; the one
    division (q̂ → whole dollars for reporting) is a non-negative
    HUGEINT div. Scale shape: moments/quantile/coverage are each one
    keyed aggregate or bounded window; the calibration window is
    per-group over ~30% of DAYS, not rows."""
    daily = _daily_revenue(spark, sf_dir)
    from mysql_cdc_to_http_spark.operators.sampling import split_bucket

    b = split_bucket(
        F.concat_ws("|", F.col("prio"), F.col("x")), 100, "conf-v1"
    )
    # r16 (guide §2.4/§5): the train fit, the calibration ranking and
    # the test coverage audit each re-derived the daily-revenue fact
    # aggregate (measured plan: 24 Exchange / 11 scans). The labeled
    # daily table is (priority × days)-sized: persist, one fact pass.
    lab = caching.persist(daily.withColumn("b", b))
    cf = _ols_closed_form(
        _ols_moments(lab.filter(F.col("b") < 40))
    ).select("prio", "num", "denx", "numi")
    resid = (
        lab.filter(F.col("b") >= 40)
        .join(F.broadcast(cf), "prio")
        .select(
            "prio",
            "x",
            "b",
            F.expr(
                "abs(CAST(y AS DECIMAL(20,0)) * denx"
                " - num * CAST(x AS DECIMAL(12,0)) - numi)"
            ).alias("rs"),
        )
    )
    from pyspark.sql.window import Window as W

    cal = (
        resid.filter(F.col("b") < 70)
        .withColumn(
            "rn", F.row_number().over(W.partitionBy("prio").orderBy("rs", "x"))
        )
        .withColumn(
            "n_cal", F.count(F.lit(1)).over(W.partitionBy("prio"))
        )
    )
    qhat = cal.groupBy("prio").agg(
        F.max("n_cal").cast("long").alias("n_cal"),
        F.max(
            F.when(
                F.col("rn")
                == F.expr("least((9 * n_cal + 18) div 10, n_cal)"),
                F.col("rs"),
            )
        ).alias("q_scaled"),
    )
    cov = (
        resid.filter(F.col("b") >= 70)
        .join(F.broadcast(qhat), "prio")
        .groupBy("prio")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(
                F.when(F.col("rs") <= F.col("q_scaled"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_covered"),
        )
    )
    pooled = cov.agg(
        F.expr("(sum(n_covered) * 1000000) div sum(n_test)").alias(
            "pooled_coverage_micro"
        )
    )
    return (
        qhat.join(cov, "prio")
        .join(F.broadcast(cf), "prio")
        .crossJoin(F.broadcast(pooled))
        .select(
            F.col("prio").alias("o_orderpriority"),
            "n_cal",
            "n_test",
            F.expr(
                "CASE WHEN denx > 0"
                " THEN CAST(q_scaled div denx AS BIGINT) END"
            ).alias("q_dollars"),
            "n_covered",
            F.expr("(n_covered * 1000000) div n_test").alias(
                "coverage_micro"
            ),
            "pooled_coverage_micro",
            (F.col("pooled_coverage_micro") >= 850000).alias(
                "pooled_coverage_ok"
            ),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# X222 — rank-biased overlap (RBO_min@10, Webber et al. 2010) between
# the lexical (BM25) and dense (cosine) rankings: the ranker-agreement
# metric you watch when swapping retrieval models. With p = 9/10
# RATIONAL, every weight p^{d-1}·(1/d) has the exact common
# denominator 10^10·2520 (2520 = lcm(1..10)), so the whole metric is
# integer arithmetic: num = Σ_d w_d·o_d with precomputed integer
# weights, rbo_micro = (num·10⁶) div (10^10·2520).
# --------------------------------------------------------------------------
_RBO_WEIGHTS = {
    1: 2520000000000,
    2: 1134000000000,
    3: 680400000000,
    4: 459270000000,
    5: 330674400000,
    6: 248005800000,
    7: 191318760000,
    8: 150663523500,
    9: 120530818800,
    10: 97629963228,
}
_RBO_DEN = 25200000000000  # 10^10 * lcm(1..10)
_RBO_WEIGHTS_SQL = ", ".join(
    f"({d}, {w}::BIGINT)" for d, w in _RBO_WEIGHTS.items()
)


@query(
    "q_rbo",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                          ' ') AS toks
      FROM documents
    ),
    dl AS (SELECT doc_id, len(toks) AS dl FROM toks),
    stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
    terms AS (SELECT doc_id, unnest(toks) AS term FROM toks),
    ft AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM terms WHERE term IN ('spark', 'query', 'join')
           GROUP BY doc_id, term),
    dfq AS (SELECT term, COUNT(DISTINCT doc_id) AS df
            FROM terms WHERE term IN ('spark', 'query', 'join')
            GROUP BY term),
    idf AS (
      SELECT term, ln((s.n - df + 0.5) / (df + 0.5) + 1.0) AS idf, s.avgdl
      FROM dfq, stats s
    ),
    contrib AS (
      SELECT ft.doc_id,
             idf.idf * (ft.tf * 2.2)
             / (ft.tf + 1.2 * (0.25 + 0.75 * dl.dl / idf.avgdl)) AS c
      FROM ft JOIN idf USING (term) JOIN dl ON ft.doc_id = dl.doc_id
    ),
    lex AS (
      SELECT doc_id, rnk AS ar FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY round(SUM(c), 6) DESC, doc_id)
                 AS rnk
        FROM contrib GROUP BY doc_id
      ) WHERE rnk <= 10
    ),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
          WHERE vec_id = 0),
    dense AS (
      SELECT doc_id, rnk AS br FROM (
        SELECT c.vec_id AS doc_id,
               row_number() OVER (
                 ORDER BY round(list_cosine_similarity(q.qv,
                            CAST(c.embedding AS DOUBLE[])), 6) DESC,
                          c.vec_id) AS rnk
        FROM embeddings c, q WHERE c.vec_id >= 10
      ) WHERE rnk <= 10
    ),
    both_ranked AS (
      SELECT lex.doc_id, lex.ar, dense.br
      FROM lex JOIN dense USING (doc_id)
    ),
    w(depth, w) AS (VALUES {{WEIGHTS}}),
    od AS (
      SELECT w.depth, w.w,
             CAST(COALESCE(sum(CASE WHEN b.ar <= w.depth
                                     AND b.br <= w.depth
                                    THEN 1 END), 0) AS BIGINT) AS overlap
      FROM w LEFT JOIN both_ranked b ON TRUE
      GROUP BY w.depth, w.w
    ),
    total AS (
      SELECT CAST((sum(w * overlap)::HUGEINT * 1000000)
                  // {_RBO_DEN}::HUGEINT AS BIGINT) AS rbo_micro
      FROM od
    )
    SELECT CAST(od.depth AS BIGINT) AS depth, od.overlap, total.rbo_micro
    FROM od, total ORDER BY depth
    """.replace("{WEIGHTS}", _RBO_WEIGHTS_SQL),
)
def q_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranker agreement (X222): RBO_min@10 between the BM25 top-10 and
    the dense cosine top-10 (the two X218 inputs), plus the per-depth
    overlap profile o_d. Top-weighted by construction (depth-d overlap
    carries weight p^{d-1}/d), which is what distinguishes RBO from
    plain set overlap: agreement at rank 1 matters ~26× more than at
    rank 10.

    Exactness: both rankings are cross-engine-stable (rounded scores,
    id tie-breaks — certified by their own oracles); overlaps are
    integers; p = 9/10 keeps every weight rational with common
    denominator 10^10·lcm(1..10), precomputed as integer literals on
    both sides, so rbo_micro is a single non-negative integer
    division. This is RBO_min at depth 10 (no extrapolation term) —
    the conservative published variant for truncated lists.

    Scale: both inputs are the already-audited top-k plans; the metric
    itself touches ≤10×10 rows."""
    from pyspark.sql.window import Window as W

    from mysql_cdc_to_http_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )
    from mysql_cdc_to_http_spark.queries.llm import _bm25_topn

    lex = _bm25_topn(spark, sf_dir, 10).select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.col("bm25").desc(), "doc_id"))
        .alias("ar"),
    )
    emb = load_table(spark, sf_dir, "embeddings")
    dense = cosine_topk_bruteforce(
        emb.filter(F.col("vec_id") == 0),
        emb.filter(F.col("vec_id") >= 10),
        k=10,
    ).select(F.col("corpus_id").alias("doc_id"), F.col("rank").alias("br"))
    both_ranked = lex.join(dense, "doc_id")
    w = spark.createDataFrame(
        list(_RBO_WEIGHTS.items()), "depth int, w long"
    )
    # LEFT join against the (possibly EMPTY) id-intersection so every
    # depth row survives with overlap 0 — a cross join would erase the
    # spine whenever the two top-10 lists share no document.
    od = (
        w.join(F.broadcast(both_ranked), F.lit(True), "left")
        .groupBy("depth", "w")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("ar") <= F.col("depth"))
                        & (F.col("br") <= F.col("depth")),
                        1,
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("overlap")
        )
    )
    # r16 (guide §2.4/§5): the rbo total and the per-depth output both
    # consume od — without a persist each re-ran the ENTIRE BM25
    # pipeline and the dense brute-force scorer underneath (measured
    # plan: 16 Exchange / 12 scans). od is ≤10 rows: persist it, the
    # two heavy ranking pipelines run once.
    od = caching.persist(od)
    total = od.agg(
        F.expr(
            "CAST((CAST(sum(w * overlap) AS DECIMAL(25,0)) * 1000000)"
            f" div CAST({_RBO_DEN} AS DECIMAL(20,0)) AS BIGINT)"
        ).alias("rbo_micro")
    )
    return (
        od.select(F.col("depth").cast("long").alias("depth"), "overlap")
        .crossJoin(F.broadcast(total))
        .orderBy("depth")
    )


# --------------------------------------------------------------------------
# X241 — Wilson score lower-bound leaderboard (Wilson 1927; the
# "how not to sort by average rating" correction): rank users by the
# z=2 lower confidence bound of their purchase-per-engagement rate, so
# a 3/3 newcomer does NOT outrank a 95/100 veteran — the small-sample
# guard every engagement/CTR leaderboard needs. z=2 (not 1.96) makes
# z^2=4 and every term integer: with s successes, f failures, n=s+f,
#   LB = (s + 2 - 2*sqrt(s*f/n + 1)) / (n + 4).
# The sqrt argument is scaled to an EXACT integer A = (s*f*1e10 div n)
# + 1e10 (DECIMAL product, truncated div on non-negatives — identical
# both engines), and floor(sqrt(A)) is made exact-for-any-A by a
# one-step integer correction (w±1 comparisons on w², no float after
# the seed) — the X230 correctly-rounded-sqrt discipline hardened
# against the half-ulp edge. Everything downstream is integer.
# --------------------------------------------------------------------------
_WILSON_MIN_TRIALS = 5


_WILSON_ORACLE_SQL = f"""
    WITH base AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS trials,
             CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT)
               AS successes
      FROM events
      WHERE event_type IN ('click', 'purchase')
      GROUP BY user_id
      HAVING count(*) >= {_WILSON_MIN_TRIALS}
    ),
    arg AS (
      SELECT user_id, trials, successes,
             CAST((CAST(successes AS HUGEINT) * (trials - successes)
                   * 10000000000) // trials + 10000000000 AS BIGINT) AS a
      FROM base
    ),
    seed AS (
      SELECT *, CAST(floor(sqrt(CAST(a AS DOUBLE))) AS BIGINT) AS w0
      FROM arg
    ),
    isq AS (
      SELECT user_id, trials, successes, a,
             w0 + (CASE WHEN (w0 + 1) * (w0 + 1) <= a THEN 1
                        WHEN w0 * w0 > a THEN -1 ELSE 0 END) AS w
      FROM seed
    ),
    lb AS (
      SELECT user_id, trials, successes,
             CAST(successes * 1000000 // trials AS BIGINT) AS rate_micro,
             CAST(((successes + 2) * 100000 - 2 * w) // (trials + 4)
                  AS BIGINT) AS wilson_lb_e5
      FROM isq
    )
    SELECT user_id, trials, successes, rate_micro, wilson_lb_e5,
           CAST(row_number() OVER (ORDER BY wilson_lb_e5 DESC, user_id)
                AS INT) AS rk
    FROM lb
    ORDER BY rk
    """


@query(
    "q_wilson_leaderboard",
    oracle=_WILSON_ORACLE_SQL,
)
def q_wilson_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X241 — Wilson z=2 lower-bound ranking of per-user purchase
    conversion over click+purchase events (min 5 trials).

    Determinism: the only float is one sqrt SEED — floor(sqrt(A)) over
    an exact integer A, then corrected by +/-1 via integer w²
    comparisons, so w == isqrt(A) EXACTLY on both engines even when
    the correctly-rounded double lands a half-ulp across the floor
    boundary. A = s·f·1e10 div n + 1e10 <= (n/4+1)·1e10 stays
    double-exact (< 2^53) for n <= 3.6e6 trials per key; the DECIMAL
    product guards the multiply itself at any n. All divisions are
    truncated integer divs of non-negatives (Spark div == DuckDB //).

    Scale shape: one fact scan -> per-user counting aggregate with
    map-side partials; everything after runs on the user-sized table;
    the final rank is a single window over model-sized output (the
    leaderboard IS globally ordered by contract). Reference analog:
    none (main.go forwards rows; no analytics).
    """
    ev = load_table(spark, sf_dir, "events")
    base = _wilson_counts(ev).filter(
        F.col("trials") >= _WILSON_MIN_TRIALS
    )
    return _wilson_present(base)


def _wilson_counts(ev: DataFrame) -> DataFrame:
    """Per-user (trials, successes) counters over click+purchase
    events — plain sums, hence MERGEABLE state (shared X241/X247)."""
    return (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("trials"),
            F.sum(
                (F.col("event_type") == "purchase").cast("long")
            ).cast("long").alias("successes"),
        )
    )


def _wilson_present(base: DataFrame) -> DataFrame:
    """Wilson z=2 lower-bound presentation from exact (trials,
    successes) counters (shared X241/X247): integer-scaled sqrt seed,
    one-step isqrt correction, micro-unit divisions, ranked output."""
    arg = base.withColumn(
        "a",
        F.expr(
            "CAST((CAST(successes AS DECIMAL(38,0)) * (trials - successes)"
            " * 10000000000) div trials + 10000000000 AS BIGINT)"
        ),
    )
    seed = arg.withColumn(
        "w0", F.floor(F.sqrt(F.col("a").cast("double"))).cast("long")
    )
    isq = seed.withColumn(
        "w",
        F.expr(
            "w0 + (CASE WHEN (w0 + 1) * (w0 + 1) <= a THEN 1"
            " WHEN w0 * w0 > a THEN -1 ELSE 0 END)"
        ),
    )
    lb = isq.select(
        "user_id",
        "trials",
        "successes",
        F.expr("CAST(successes * 1000000 div trials AS BIGINT)").alias(
            "rate_micro"
        ),
        F.expr(
            "CAST(((successes + 2) * 100000 - 2 * w) div (trials + 4)"
            " AS BIGINT)"
        ).alias("wilson_lb_e5"),
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("wilson_lb_e5").desc(), "user_id")
    return lb.select(
        "*", F.row_number().over(w).cast("int").alias("rk")
    ).orderBy("rk")


# --------------------------------------------------------------------------
# X247 — incremental Wilson leaderboard under event append: the
# per-user (trials, successes) counters behind X241 are plain sums —
# MERGEABLE state (min/sum associativity, the X203/X237 discipline) —
# so the leaderboard maintains under arriving event batches by folding
# delta counters into stored counters with one keyed outer-join merge:
# delta-sized work, never a rescan of history. The oracle recomputes
# the one-shot batch answer over ALL events; hash parity proves
# fold == batch (the X94/X228/X235/X237 identity rule). The epoch
# split below is an arbitrary partition of the stream — merge order
# cannot matter, which is exactly the property under test.
# --------------------------------------------------------------------------
@query(
    "q_wilson_incremental",
    oracle=_WILSON_ORACLE_SQL,
)
def q_wilson_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X247 — X241's leaderboard maintained as two-epoch folded state:
    counters over epoch 1 (event_id % 5 < 3), folded with epoch 2's
    delta via a full-outer keyed merge (coalesce-sum), then the shared
    Wilson presentation. Identity oracle: the one-shot X241 SQL — the
    fold must reproduce it row-exactly.

    Scale shape: each epoch is one counting aggregate with map-side
    partials; the merge joins two user-sized counter tables on the
    key; presentation is unchanged. At 100 TB the stored counter table
    IS the state store (Delta MERGE in production; the same shape as
    X33's latest-state fold but for additive aggregates). Reference
    analog: none (main.go holds no aggregate state).
    """
    ev = load_table(spark, sf_dir, "events")
    e1 = _wilson_counts(ev.filter(F.col("event_id") % 5 < 3))
    e2 = _wilson_counts(ev.filter(F.col("event_id") % 5 >= 3))
    merged = (
        e1.select(
            F.col("user_id"),
            F.col("trials").alias("t1"),
            F.col("successes").alias("s1"),
        )
        .join(
            e2.select(
                F.col("user_id"),
                F.col("trials").alias("t2"),
                F.col("successes").alias("s2"),
            ),
            "user_id",
            "full_outer",
        )
        .select(
            "user_id",
            (
                F.coalesce(F.col("t1"), F.lit(0))
                + F.coalesce(F.col("t2"), F.lit(0))
            ).cast("long").alias("trials"),
            (
                F.coalesce(F.col("s1"), F.lit(0))
                + F.coalesce(F.col("s2"), F.lit(0))
            ).cast("long").alias("successes"),
        )
        .filter(F.col("trials") >= _WILSON_MIN_TRIALS)
    )
    return _wilson_present(merged)


# --------------------------------------------------------------------------
# X284 — Holt linear (double) exponential smoothing over the daily
# event-revenue series, EXACT: with alpha = beta = 1/2 the recurrences
#   l_t = (y_t + l_{t-1} + b_{t-1}) / 2
#   b_t = (l_t - l_{t-1} + b_{t-1}) / 2
# are dyadic rationals with denominator 4^(t-1), so tracking
# P_t = 4^(t-1)·l_t and Q_t = 4^(t-1)·b_t keeps every intermediate an
# exact integer (P is even by construction, so Q's halving is exact):
#   P_t = 2·s·y_t + 2·(P_{t-1} + Q_{t-1}),   s = 4^(t-2)
#   Q_t = (P_t - 4·P_{t-1} + 4·Q_{t-1}) / 2
# — an ITERATIVE time-series model with zero FP, the same
# "sufficient statistics are the exact model" discipline as X216's
# OLS, extended to a recurrence. 30 days × cents at 100× the bench
# corpus peaks near 1e31, inside DECIMAL(38)/HUGEINT.
# --------------------------------------------------------------------------
@query(
    "q_holt_winters",
    oracle=r"""
    WITH RECURSIVE daily AS (
      SELECT event_type,
             CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS HUGEINT)
               AS y
      FROM events GROUP BY 1, 2
    ),
    seq AS (
      SELECT event_type, y,
             row_number() OVER (PARTITION BY event_type ORDER BY d)
               AS t,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM daily
    ),
    fold AS (
      SELECT event_type, t, n,
             y AS p, CAST(0 AS HUGEINT) AS q, CAST(1 AS HUGEINT) AS s
      FROM seq WHERE t = 1
      UNION ALL
      SELECT f.event_type, s2.t, f.n,
             2 * f.s * s2.y + 2 * (f.p + f.q),
             (2 * f.s * s2.y + 2 * (f.p + f.q)
              - 4 * f.p + 4 * f.q) / 2,
             4 * f.s
      FROM fold f JOIN seq s2
        ON s2.event_type = f.event_type AND s2.t = f.t + 1
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
           CAST(CASE WHEN p < 0 THEN -(abs(p) // s) ELSE p // s END
                AS BIGINT) AS level_cents,
           CAST(CASE WHEN q < 0 THEN -(abs(q) // s) ELSE q // s END
                AS BIGINT) AS trend_cents,
           CAST(CASE WHEN p + 7 * q < 0 THEN -(abs(p + 7 * q) // s)
                ELSE (p + 7 * q) // s END AS BIGINT) AS forecast7_cents
    FROM fold WHERE t = n
    ORDER BY event_type
    """,
)
def q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X284 — Holt linear-trend smoothing per event type (alpha =
    beta = 1/2): final level, trend, and the 7-day-ahead forecast
    l + 7b, all in exact cents.

    Exactness: daily totals are exact cent sums; the recurrence is
    exact integer arithmetic at scale 4^(t-1) (see the family
    comment); final divisions are sign-separated truncating div
    (Spark div == DuckDB // on non-negatives only — the q_ewma rule).
    Scale shape: one fact-sized (type, day) aggregate with map-side
    partials; the fold itself runs over DAY-COUNT-sized arrays (one
    per group, sorted then folded in a single codegen higher-order
    aggregate — groups fold in parallel across the cluster; the
    series length, not the corpus, bounds per-group work). The oracle
    mirrors the fold with a recursive CTE."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("decimal(38,0)")
        .alias("y")
    )
    series = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("d", "y"))).alias("ser")
    )
    folded = series.select(
        "event_type",
        F.size("ser").cast("long").alias("n_days"),
        F.expr(
            "aggregate(ser,"
            " named_struct('p', CAST(0 AS DECIMAL(38,0)),"
            "              'q', CAST(0 AS DECIMAL(38,0)),"
            "              's', CAST(0 AS DECIMAL(38,0))),"
            " (acc, e) -> CASE WHEN acc.s = 0 THEN"
            "   named_struct('p', e.y, 'q', CAST(0 AS DECIMAL(38,0)),"
            "                's', CAST(1 AS DECIMAL(38,0)))"
            " ELSE named_struct("
            "   'p', 2 * acc.s * e.y + 2 * (acc.p + acc.q),"
            "   'q', CAST((2 * acc.s * e.y + 2 * (acc.p + acc.q)"
            "              - 4 * acc.p + 4 * acc.q) / 2"
            "        AS DECIMAL(38,0)),"
            "   's', 4 * acc.s) END)"
        ).alias("st"),
    )
    return folded.select(
        "event_type",
        "n_days",
        F.expr(
            "CAST(CAST(sign(st.p) AS DECIMAL(38,0))"
            " * (abs(st.p) div st.s) AS BIGINT)"
        ).alias("level_cents"),
        F.expr(
            "CAST(CAST(sign(st.q) AS DECIMAL(38,0))"
            " * (abs(st.q) div st.s) AS BIGINT)"
        ).alias("trend_cents"),
        F.expr(
            "CAST(CAST(sign(st.p + 7 * st.q) AS DECIMAL(38,0))"
            " * (abs(st.p + 7 * st.q) div st.s) AS BIGINT)"
        ).alias("forecast7_cents"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# X290 — Hill tail-index estimator: alpha-hat = k / Σ_{i<=k} (ln x_(i)
# − ln x_(k+1)) over the top-k order statistics per event type — THE
# standard heavy-tail exponent estimate (is this value distribution
# power-law? how heavy?), the value-domain twin of X281's Zipf slope.
# ln values quantized to micro per ORDER STATISTIC (one libm call
# each, round absorbs ulps), so the estimator is exact integer
# arithmetic after that.
# --------------------------------------------------------------------------
_HILL_K = 100


@query(
    "q_hill_tail",
    oracle=rf"""
    WITH pos AS (
      SELECT event_type, value, event_id,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value DESC, event_id) AS r
      FROM events WHERE value > 0
    ),
    top AS (
      SELECT event_type,
             CAST(round(ln(value) * 1000000) AS BIGINT) AS l, r
      FROM pos WHERE r <= {_HILL_K} + 1
    ),
    agg AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN r <= {_HILL_K} THEN l ELSE 0 END)
                  AS BIGINT) AS sum_l,
             CAST(MAX(CASE WHEN r = {_HILL_K} + 1 THEN l END)
                  AS BIGINT) AS l_k1,
             CAST(COUNT(*) AS BIGINT) AS n_top
      FROM top GROUP BY event_type
    )
    SELECT event_type, n_top, l_k1 AS ln_xk1_micro,
           CAST((sum_l - {_HILL_K} * l_k1) // {_HILL_K} AS BIGINT)
             AS alpha_inv_micro,
           CAST(CASE WHEN sum_l - {_HILL_K} * l_k1 > 0 THEN
                ({_HILL_K} * 1000000000000)
                // (sum_l - {_HILL_K} * l_k1) END AS BIGINT)
             AS alpha_micro
    FROM agg WHERE n_top = {_HILL_K} + 1
    ORDER BY event_type
    """,
)
def q_hill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X290 — Hill heavy-tail exponent per event type (k=100).

    Exactness: order statistics rank on (value desc, event_id) — a
    total order identical cross-engine; each ln is quantized to micro
    per value; the estimator is integer sums and two truncated
    divisions (operands non-negative: x_(i) >= x_(k+1) implies
    l_i >= l_k1 after identical rounding). Groups lacking k+1
    positive values are dropped (estimator undefined). Scale shape:
    the rank window is the X20-class per-group top-k (heap semantics,
    never a global sort — plan-linted); everything after touches
    k+1 rows per group. k is an absolute constant — the published
    estimator's knob — so per-group work is flat at any corpus
    size."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    k = _HILL_K
    pos = ev.select(
        "event_type",
        "value",
        F.row_number()
        .over(
            W.partitionBy("event_type").orderBy(
                F.desc("value"), F.asc("event_id")
            )
        )
        .alias("r"),
    ).filter(F.col("r") <= k + 1)
    top = pos.select(
        "event_type",
        F.round(F.log("value") * 1000000).cast("long").alias("l"),
        "r",
    )
    agg = top.groupBy("event_type").agg(
        F.sum(F.when(F.col("r") <= k, F.col("l")).otherwise(0))
        .cast("long")
        .alias("sum_l"),
        F.max(F.when(F.col("r") == k + 1, F.col("l")))
        .cast("long")
        .alias("l_k1"),
        F.count(F.lit(1)).cast("long").alias("n_top"),
    )
    return (
        agg.filter(F.col("n_top") == k + 1)
        .select(
            "event_type",
            "n_top",
            F.col("l_k1").alias("ln_xk1_micro"),
            F.expr(
                f"CAST((sum_l - {k} * l_k1) div {k} AS BIGINT)"
            ).alias("alpha_inv_micro"),
            F.expr(
                f"CAST(CASE WHEN sum_l - {k} * l_k1 > 0 THEN"
                f" ({k} * 1000000000000) div (sum_l - {k} * l_k1)"
                f" END AS BIGINT)"
            ).alias("alpha_micro"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# X291 — exact two-sample Kolmogorov-Smirnov test: D = max |F1 − F2|
# over the pooled distinct values, computed entirely in
# cross-multiplied integers (|c1·n2 − c2·n1|, never a float CDF) —
# the distribution-drift test that needs no binning choice, next to
# X106's binned PSI. The 95% significance gate is the classic
# c(0.05) = 1.358 threshold, compared with both sides squared so the
# sqrt never materializes.
# --------------------------------------------------------------------------
@query(
    "q_ks_test",
    oracle="""
    WITH a AS (SELECT value FROM events WHERE event_type = 'click'),
    b AS (SELECT value FROM events WHERE event_type = 'error'),
    n AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS n1,
             (SELECT CAST(count(*) AS BIGINT) FROM b) AS n2
    ),
    pooled AS (
      SELECT value,
             CAST(SUM(c1) AS BIGINT) AS c1, CAST(SUM(c2) AS BIGINT) AS c2
      FROM (
        SELECT value, 1 AS c1, 0 AS c2 FROM a
        UNION ALL
        SELECT value, 0 AS c1, 1 AS c2 FROM b
      ) GROUP BY value
    ),
    cum AS (
      SELECT SUM(c1) OVER (ORDER BY value) AS f1,
             SUM(c2) OVER (ORDER BY value) AS f2
      FROM pooled
    ),
    d AS (
      SELECT CAST(MAX(abs(f1 * n.n2 - f2 * n.n1)) AS HUGEINT) AS d_num
      FROM cum, n
    )
    SELECT n.n1, n.n2, CAST(d.d_num AS BIGINT) AS d_num,
           CAST(d.d_num * 1000000
                // (CAST(n.n1 AS HUGEINT) * n.n2) AS BIGINT)
             AS ks_micro,
           d.d_num * d.d_num * 1000000 >
             CAST(1844164 AS HUGEINT) * (n.n1 + n.n2) * n.n1 * n.n2
             AS reject_95
    FROM d, n
    """,
)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X291 — exact two-sample KS (click vs error value samples).

    Exactness: the empirical CDFs never become floats — the gap is
    |f1·n2 − f2·n1| over cumulative integer counts at each pooled
    distinct value, and the 95% gate squares both sides of
    D > 1.358·sqrt((n1+n2)/(n1·n2)) into pure integers (HUGEINT /
    DECIMAL(38) — peaks ~1e23 at 100× this corpus). Scale shape: one
    value-keyed aggregate (map-side partials collapse duplicates),
    then a cumulative window over DISTINCT values — bounded by value
    cardinality (2-dp readings here; at true continuous scale,
    pre-round values to measurement precision and the window input
    stays quantization-bounded, the X177 histogram discipline), then
    a 1-row max."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click").select("value")
    b = ev.filter(F.col("event_type") == "error").select("value")
    pooled = (
        a.select("value", F.lit(1).alias("c1"), F.lit(0).alias("c2"))
        .unionAll(
            b.select(
                "value", F.lit(0).alias("c1"), F.lit(1).alias("c2")
            )
        )
        .groupBy("value")
        .agg(
            F.sum("c1").cast("long").alias("c1"),
            F.sum("c2").cast("long").alias("c2"),
        )
    )
    cum = pooled.select(
        F.sum("c1").over(W.orderBy("value")).alias("f1"),
        F.sum("c2").over(W.orderBy("value")).alias("f2"),
    )
    n = (
        pooled.agg(
            F.sum("c1").cast("long").alias("n1"),
            F.sum("c2").cast("long").alias("n2"),
        )
    )
    d = cum.crossJoin(F.broadcast(n)).agg(
        F.max(
            F.abs(
                F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1")
            )
        )
        .cast("decimal(38,0)")
        .alias("d_num")
    )
    return d.crossJoin(F.broadcast(n)).select(
        "n1",
        "n2",
        F.col("d_num").cast("long").alias("d_num"),
        F.expr(
            "CAST(CAST(d_num AS DECIMAL(38,0)) * 1000000"
            " div (CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT)"
        ).alias("ks_micro"),
        F.expr(
            "CAST(d_num AS DECIMAL(38,0)) * CAST(d_num AS DECIMAL(38,0))"
            " * 1000000 > CAST(1844164 AS DECIMAL(38,0))"
            " * (CAST(n1 AS DECIMAL(38,0)) + n2) * n1 * n2"
        ).alias("reject_95"),
    )


# --------------------------------------------------------------------------
# X292 — Mann-Whitney U (rank-sum) test, tie-exact: the rank-based
# two-sample location test (click vs error values — the nonparametric
# sibling of X127's t-test A/B and X291's KS). Ties are handled with
# the DOUBLE-RANK trick: for a tied value spanning ranks
# F_prev+1..F_prev+c the average rank is F_prev+(c+1)/2, so TWICE the
# average rank (2·F_prev + c + 1) is an integer and R1, U stay exact
# integers throughout; the tie-corrected variance enters only the
# final z (one sqrt on a double built from exact integers, micro
# round absorbs the ulp).
# --------------------------------------------------------------------------
@query(
    "q_mannwhitney",
    oracle="""
    WITH pooled AS (
      SELECT value,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS HUGEINT) AS c1,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS HUGEINT) AS c2
      FROM events WHERE event_type IN ('click', 'error')
      GROUP BY value
    ),
    cum AS (
      SELECT c1, c2, c1 + c2 AS c,
             COALESCE(SUM(c1 + c2) OVER (
               ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS f_prev
      FROM pooled
    ),
    agg AS (
      SELECT CAST(SUM(c1) AS HUGEINT) AS n1,
             CAST(SUM(c2) AS HUGEINT) AS n2,
             CAST(SUM(c1 * (2 * f_prev + c + 1)) AS HUGEINT)
               AS r1_double,
             CAST(SUM(c * c * c - c) AS HUGEINT) AS tie_t
      FROM cum
    ),
    stat AS (
      SELECT n1, n2, r1_double - n1 * (n1 + 1) AS u1_double, tie_t,
             n1 + n2 AS n
      FROM agg
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(u1_double AS BIGINT) AS u1_double,
           CAST(tie_t AS BIGINT) AS tie_correction,
           CAST(round(
             (CAST(u1_double AS DOUBLE) - CAST(n1 * n2 AS DOUBLE))
             / (2.0 * sqrt(CAST(n1 * n2 AS DOUBLE)
                           * CAST(n * n * n - n - tie_t AS DOUBLE)
                           / (12.0 * CAST(n AS DOUBLE)
                              * CAST(n - 1 AS DOUBLE))))
             * 1000000) AS BIGINT) AS z_micro
    FROM stat
    """,
)
def q_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X292 — tie-exact Mann-Whitney U for click-vs-error values.

    Exactness: counts, double-ranks, U and the tie term are exact
    integers (DECIMAL(38)/HUGEINT); only the final z divides doubles
    BUILT from those integers (both engines round the same integers
    to the same doubles; one sqrt, micro round absorbs the ulp).
    Scale shape: one value-keyed aggregate with map-side partials, a
    cumulative window over DISTINCT values (quantization-bounded, the
    X291 argument), then a 1-row statistic. The z normal
    approximation is the standard large-n form — exactly the regime
    a big corpus is in."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "error")
    )
    pooled = ev.groupBy("value").agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        )
        .cast("decimal(38,0)")
        .alias("c1"),
        F.sum(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        )
        .cast("decimal(38,0)")
        .alias("c2"),
    )
    w = W.orderBy("value").rowsBetween(W.unboundedPreceding, -1)
    cum = pooled.select(
        "c1",
        "c2",
        (F.col("c1") + F.col("c2")).alias("c"),
        F.coalesce(
            F.sum(F.col("c1") + F.col("c2")).over(w),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("f_prev"),
    )
    agg = cum.agg(
        F.sum("c1").cast("decimal(38,0)").alias("n1"),
        F.sum("c2").cast("decimal(38,0)").alias("n2"),
        F.sum(
            F.col("c1") * (F.lit(2) * F.col("f_prev") + F.col("c") + 1)
        )
        .cast("decimal(38,0)")
        .alias("r1_double"),
        F.sum(F.expr("c * c * c - c"))
        .cast("decimal(38,0)")
        .alias("tie_t"),
    )
    return agg.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.expr("CAST(r1_double - n1 * (n1 + 1) AS BIGINT)").alias(
            "u1_double"
        ),
        F.col("tie_t").cast("long").alias("tie_correction"),
        F.expr(
            "CAST(round("
            " (CAST(r1_double - n1 * (n1 + 1) AS DOUBLE)"
            "  - CAST(n1 * n2 AS DOUBLE))"
            " / (2.0 * sqrt(CAST(n1 * n2 AS DOUBLE)"
            "     * CAST((n1 + n2) * (n1 + n2) * (n1 + n2)"
            "            - (n1 + n2) - tie_t AS DOUBLE)"
            "     / (12.0 * CAST(n1 + n2 AS DOUBLE)"
            "        * CAST(n1 + n2 - 1 AS DOUBLE))))"
            " * 1000000) AS BIGINT)"
        ).alias("z_micro"),
    )


# --------------------------------------------------------------------------
# X303 — autocorrelation function: per-event-type ACF at lags 1..7 on
# the zero-filled daily count series — the seasonality detector read
# before choosing X179/X297-style window lengths (a 7-day data cadence
# shows up as an acf peak at lag 7). Zero-fill matters: a gappy series
# computed only over observed days shifts every lag (the same
# densify lesson as X301's zero cells).
# --------------------------------------------------------------------------
@query(
    "q_autocorrelation",
    oracle="""
    WITH obs AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(count(*) AS HUGEINT) AS x
      FROM events GROUP BY 1, 2
    ),
    span AS (
      SELECT event_type, min(d) AS d0, max(d) AS d1 FROM obs GROUP BY 1
    ),
    grid AS (
      SELECT event_type,
             unnest(range(0, datediff('day', d0, d1) + 1)) AS idx
      FROM span
    ),
    obs2 AS (
      SELECT o.event_type, datediff('day', s.d0, o.d) AS idx, x
      FROM obs o JOIN span s USING (event_type)
    ),
    dense AS (
      SELECT g.event_type, g.idx, COALESCE(o.x, 0::HUGEINT) AS x
      FROM grid g LEFT JOIN obs2 o USING (event_type, idx)
    ),
    st AS (
      SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS s
      FROM dense GROUP BY 1
    ),
    dev AS (
      SELECT d.event_type, idx, n * x - s AS dev
      FROM dense d JOIN st USING (event_type)
    ),
    den AS (
      SELECT event_type, CAST(sum(dev * dev) AS HUGEINT) AS den
      FROM dev GROUP BY 1
    ),
    num AS (
      SELECT a.event_type, k.k, CAST(sum(a.dev * b.dev) AS HUGEINT) AS num
      FROM dev a
      CROSS JOIN (SELECT unnest(range(1, 8)) AS k) k
      JOIN dev b ON b.event_type = a.event_type AND b.idx = a.idx + k.k
      GROUP BY 1, 2
    )
    SELECT num.event_type, CAST(k AS BIGINT) AS lag,
           CAST(n AS BIGINT) AS n_days,
           CAST(CASE WHEN den > 0 THEN
                CAST(CASE WHEN num < 0 THEN -1 ELSE 1 END AS HUGEINT)
                * (abs(num) * 1000000 // den) END AS BIGINT) AS acf_micro
    FROM num JOIN den USING (event_type) JOIN st USING (event_type)
    ORDER BY event_type, lag
    """,
)
def q_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X303 — per-type ACF at lags 1..7 over zero-filled daily counts.

    Exactness: with dev_t = n·x_t − S (pure integers), the ACF
    identity r_k = Σ dev_t·dev_{t+k} / Σ dev_t² holds exactly (the n²
    factors cancel), so numerator and denominator are exact HUGEINT /
    DECIMAL(38) sums and the only division is one sign-separated
    truncating micro div.

    Scale shape: one fact-sized (type, day) aggregate with map-side
    partials; everything after runs on the grid (types × span-days,
    calendar-sized, independent of event volume). The lag pairing is
    an equi-join on idx+k (7 exploded lag keys — linear in the grid,
    never a range join). Presentation sort is grid-bounded (allowlist
    class a)."""
    obs = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("x"))
    )
    span = obs.groupBy("event_type").agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    grid = span.select(
        "event_type",
        F.explode(
            F.sequence(F.lit(0), F.datediff("d1", "d0"))
        ).alias("idx"),
    )
    obs2 = obs.join(span, "event_type").select(
        "event_type", F.datediff("d", "d0").alias("idx"), "x"
    )
    # r16 (guide §2.4/§5): st, dev, den and the two lag-join sides each
    # re-derived the zero-filled grid — and the fact aggregate under it
    # — per consumer (measured plan: 23 Exchange / 18 scans). Both
    # frames are calendar-bounded (types × span-days): persist them,
    # one fact pass.
    dense = caching.persist(
        grid.join(obs2, ["event_type", "idx"], "left")
        .withColumn(
            "x", F.coalesce(F.col("x"), F.lit(0).cast("decimal(38,0)"))
        )
    )
    st = dense.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("s"),
    )
    dev = caching.persist(
        dense.join(st, "event_type")
        .select(
            "event_type", "idx", F.expr("n * x - s").alias("dev"), "n"
        )
    )
    den = dev.groupBy("event_type").agg(
        F.sum(F.expr("dev * dev")).cast("decimal(38,0)").alias("den"),
        F.max("n").alias("n"),
    )
    num = (
        dev.select("event_type", "idx", "dev")
        .withColumn("k", F.explode(F.expr("sequence(1, 7)")))
        .alias("a")
        .join(
            dev.select(
                "event_type",
                F.col("idx").alias("bidx"),
                F.col("dev").alias("bdev"),
            ).alias("b"),
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("bidx") == F.col("idx") + F.col("k")),
        )
        .groupBy("a.event_type", "k")
        .agg(F.sum(F.expr("dev * bdev")).cast("decimal(38,0)").alias("num"))
    )
    return (
        num.join(den, "event_type")
        .select(
            "event_type",
            F.col("k").cast("long").alias("lag"),
            F.col("n").cast("long").alias("n_days"),
            F.expr(
                "CAST(CASE WHEN den > 0 THEN"
                " CAST(CASE WHEN num < 0 THEN -1 ELSE 1 END"
                "      AS DECIMAL(38,0))"
                " * (abs(num) * 1000000 div den) END AS BIGINT)"
            ).alias("acf_micro"),
        )
        .orderBy("event_type", "lag")
    )


# --------------------------------------------------------------------------
# X304 — Theil-Sen trend: per-event-type robust daily-count slope, the
# median of all pairwise slopes (x_j − x_i)/(j − i) over the
# zero-filled series — the published breakdown-point-29% alternative
# to X216's OLS slope (one corrupted day moves OLS, not the pairwise
# median). The O(span²) pair set is the ALGORITHM's definition and is
# calendar-sized (span², independent of event volume).
# --------------------------------------------------------------------------
@query(
    "q_theil_sen",
    oracle="""
    WITH obs AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(count(*) AS HUGEINT) AS x
      FROM events GROUP BY 1, 2
    ),
    span AS (
      SELECT event_type, min(d) AS d0, max(d) AS d1 FROM obs GROUP BY 1
    ),
    grid AS (
      SELECT event_type,
             unnest(range(0, datediff('day', d0, d1) + 1)) AS idx
      FROM span
    ),
    obs2 AS (
      SELECT o.event_type, datediff('day', s.d0, o.d) AS idx, x
      FROM obs o JOIN span s USING (event_type)
    ),
    dense AS (
      SELECT g.event_type, g.idx, COALESCE(o.x, 0::HUGEINT) AS x
      FROM grid g LEFT JOIN obs2 o USING (event_type, idx)
    ),
    slopes AS (
      SELECT a.event_type,
             CAST(CASE WHEN b.x < a.x THEN -1 ELSE 1 END AS HUGEINT)
             * (abs(CAST(b.x AS HUGEINT) - CAST(a.x AS HUGEINT)) * 1000000
                // CAST(b.idx - a.idx AS HUGEINT)) AS sl
      FROM dense a JOIN dense b
        ON b.event_type = a.event_type AND b.idx > a.idx
    ),
    ranked AS (
      SELECT event_type, sl,
             row_number() OVER (PARTITION BY event_type ORDER BY sl) AS r,
             count(*) OVER (PARTITION BY event_type) AS m
      FROM slopes
    )
    SELECT event_type,
           CAST(max(m) AS BIGINT) AS n_pairs,
           CAST(min(sl) AS BIGINT) AS slope_micro_per_day
    FROM ranked
    WHERE 2 * r >= m + 1
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X304 — Theil-Sen robust slope of daily event counts, per type.

    Exactness: every pairwise slope is one sign-separated truncating
    micro div of exact integers ((x_j − x_i)·1e6 div (j − i)); the
    median is the exact rank pick 2r ≥ m+1 (upper median on even m —
    the X280 rule), no float interpolation.

    Scale shape: the fact-sized work is one (type, day) aggregate with
    map-side partials; the pair join runs on the calendar-sized dense
    grid (span² per type, independent of event volume — at a 10-year
    span that is 6.7M pairs per type, a model-sized intermediate, and
    the O(n²) pair set IS the published estimator). Presentation sort
    is type-bounded (allowlist class a)."""
    from pyspark.sql.window import Window as W

    obs = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("x"))
    )
    span = obs.groupBy("event_type").agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    grid = span.select(
        "event_type",
        F.explode(F.sequence(F.lit(0), F.datediff("d1", "d0"))).alias("idx"),
    )
    obs2 = obs.join(span, "event_type").select(
        "event_type", F.datediff("d", "d0").alias("idx"), "x"
    )
    dense = grid.join(obs2, ["event_type", "idx"], "left").withColumn(
        "x", F.coalesce(F.col("x"), F.lit(0).cast("decimal(38,0)"))
    )
    b = dense.select(
        "event_type",
        F.col("idx").alias("bidx"),
        F.col("x").alias("bx"),
    )
    slopes = (
        dense.alias("a")
        .join(
            b.alias("b"),
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("bidx") > F.col("idx")),
        )
        .select(
            "a.event_type",
            F.expr(
                "CAST(CASE WHEN bx < x THEN -1 ELSE 1 END AS DECIMAL(38,0))"
                " * (abs(bx - x) * 1000000"
                "    div CAST(bidx - idx AS DECIMAL(38,0)))"
            ).alias("sl"),
        )
    )
    ranked = slopes.select(
        "event_type",
        "sl",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("sl"))
        .alias("r"),
        F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("m"),
    )
    return (
        ranked.filter(2 * F.col("r") >= F.col("m") + 1)
        .groupBy("event_type")
        .agg(
            F.max("m").cast("long").alias("n_pairs"),
            F.min("sl").cast("long").alias("slope_micro_per_day"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# X307 — Benjamini-Hochberg FDR over a family of tests: one-vs-rest
# Mann-Whitney (X292 machinery, partitioned per event type) gives each
# type a location z; p-values come from the Bowling 2009 logistic
# approximation of the normal CDF (p = 2/(1+exp(1.702·|z|)) — one exp
# per test, micro-rounded); BH at q = 0.10 rejects the largest prefix
# of the p-ascending ranking with p_i <= i·q/m, by pure integer
# cross-multiplication (p_micro·m <= i·100000). The multiple-testing
# correction every per-group screening table (X232, X291, X292) needs
# before anyone reads its flags.
# --------------------------------------------------------------------------
@query(
    "q_bh_fdr",
    oracle="""
    WITH tot AS (
      SELECT value, CAST(count(*) AS HUGEINT) AS t
      FROM events GROUP BY value
    ),
    tv AS (
      SELECT event_type, value, CAST(count(*) AS HUGEINT) AS c1
      FROM events GROUP BY 1, 2
    ),
    dense AS (
      SELECT ty.event_type, tot.value, tot.t,
             COALESCE(tv.c1, 0::HUGEINT) AS c1
      FROM (SELECT DISTINCT event_type FROM events) ty
      CROSS JOIN tot
      LEFT JOIN tv ON tv.event_type = ty.event_type
                  AND tv.value = tot.value
    ),
    cum AS (
      SELECT event_type, c1, t - c1 AS c2, t AS c,
             COALESCE(SUM(t) OVER (PARTITION BY event_type
               ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS f_prev
      FROM dense
    ),
    agg AS (
      SELECT event_type,
             CAST(SUM(c1) AS HUGEINT) AS n1,
             CAST(SUM(c2) AS HUGEINT) AS n2,
             CAST(SUM(c1 * (2 * f_prev + c + 1)) AS HUGEINT) AS r1_double,
             CAST(SUM(c * c * c - c) AS HUGEINT) AS tie_t
      FROM cum GROUP BY event_type
    ),
    z AS (
      SELECT event_type,
             (CAST(r1_double - n1 * (n1 + 1) AS DOUBLE)
              - CAST(n1 * n2 AS DOUBLE))
             / (2.0 * sqrt(CAST(n1 * n2 AS DOUBLE)
                * CAST((n1 + n2) * (n1 + n2) * (n1 + n2)
                       - (n1 + n2) - tie_t AS DOUBLE)
                / (12.0 * CAST(n1 + n2 AS DOUBLE)
                   * CAST(n1 + n2 - 1 AS DOUBLE)))) AS zval
      FROM agg
    ),
    p AS (
      SELECT event_type,
             CAST(round(zval * 1000000) AS BIGINT) AS z_micro,
             CAST(round(2000000.0 / (1.0 + exp(1.702 * abs(zval))))
                  AS BIGINT) AS p_micro
      FROM z
    ),
    ranked AS (
      SELECT event_type, z_micro, p_micro,
             row_number() OVER (ORDER BY p_micro, event_type) AS i,
             count(*) OVER () AS m
      FROM p
    ),
    istar AS (
      SELECT COALESCE(max(CASE WHEN p_micro * m <= i * 100000
                          THEN i END), 0) AS istar
      FROM ranked
    )
    SELECT event_type, z_micro, p_micro,
           CAST(i AS BIGINT) AS bh_rank, CAST(m AS BIGINT) AS m,
           i <= istar AS rejected
    FROM ranked CROSS JOIN istar
    ORDER BY bh_rank
    """,
)
def q_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X307 — BH-FDR correction over per-type one-vs-rest MWU tests.

    Exactness: the per-type rank sums reuse X292's double-rank trick
    on a densified (type × distinct-value) grid (zero cells carry
    their pooled mass — the X301/X303 lesson), so n1/n2/R1/ties are
    exact integers; z divides doubles BUILT from those integers (one
    sqrt + one exp per test, micro round absorbs the ulp — the X292
    rule); the BH step is pure integer arithmetic (p_micro·m ≤
    i·100000, then the max-prefix rule via one window max).

    Scale shape: two fact-sized aggregates with map-side partials
    ((value) totals and (type, value) counts); the dense grid is
    types × distinct-values (quantization-bounded, the X291
    argument); per-type windows run over that grid; everything after
    is a types-sized table. Presentation sort is family-sized
    (allowlist class a)."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    tot = ev.groupBy("value").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("t")
    )
    tv = ev.groupBy("event_type", "value").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("c1")
    )
    dense = (
        ev.select("event_type")
        .distinct()
        .crossJoin(tot)
        .join(tv, ["event_type", "value"], "left")
        .withColumn(
            "c1", F.coalesce(F.col("c1"), F.lit(0).cast("decimal(38,0)"))
        )
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cum = dense.select(
        "event_type",
        "c1",
        (F.col("t") - F.col("c1")).alias("c2"),
        F.col("t").alias("c"),
        F.coalesce(
            F.sum("t").over(w), F.lit(0).cast("decimal(38,0)")
        ).alias("f_prev"),
    )
    agg = cum.groupBy("event_type").agg(
        F.sum("c1").cast("decimal(38,0)").alias("n1"),
        F.sum("c2").cast("decimal(38,0)").alias("n2"),
        F.sum(F.col("c1") * (F.lit(2) * F.col("f_prev") + F.col("c") + 1))
        .cast("decimal(38,0)")
        .alias("r1_double"),
        F.sum(F.expr("c * c * c - c")).cast("decimal(38,0)").alias("tie_t"),
    )
    zexpr = (
        "(CAST(r1_double - n1 * (n1 + 1) AS DOUBLE)"
        " - CAST(n1 * n2 AS DOUBLE))"
        " / (2.0 * sqrt(CAST(n1 * n2 AS DOUBLE)"
        "    * CAST((n1 + n2) * (n1 + n2) * (n1 + n2)"
        "           - (n1 + n2) - tie_t AS DOUBLE)"
        "    / (12.0 * CAST(n1 + n2 AS DOUBLE)"
        "       * CAST(n1 + n2 - 1 AS DOUBLE))))"
    )
    p = agg.select(
        "event_type",
        F.expr(f"CAST(round(({zexpr}) * 1000000) AS BIGINT)").alias(
            "z_micro"
        ),
        F.expr(
            f"CAST(round(2000000.0 / (1.0 + exp(1.702 * abs({zexpr}))))"
            " AS BIGINT)"
        ).alias("p_micro"),
    )
    ranked = p.select(
        "event_type",
        "z_micro",
        "p_micro",
        F.row_number()
        .over(W.partitionBy().orderBy("p_micro", "event_type"))
        .alias("i"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("m"),
    )
    istar = ranked.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("p_micro") * F.col("m") <= F.col("i") * 100000,
                    F.col("i"),
                )
            ),
            F.lit(0),
        ).alias("istar")
    )
    return (
        ranked.crossJoin(F.broadcast(istar))
        .select(
            "event_type",
            "z_micro",
            "p_micro",
            F.col("i").cast("long").alias("bh_rank"),
            F.col("m").cast("long").alias("m"),
            (F.col("i") <= F.col("istar")).alias("rejected"),
        )
        .orderBy("bh_rank")
    )


# --------------------------------------------------------------------------
# X308 — effect sizes for the click-vs-error comparison: Cliff's delta
# (exact, the probability-of-superiority rescaling of X292's U — pure
# integers end-to-end) and Cohen's d (pooled-SD standardized mean
# difference on exact DECIMAL(18,2) centi-unit moments). The
# "does it MATTER" table read next to X292/X295's "is it significant"
# — at corpus scale every difference is significant, so the gate that
# actually filters is the effect size.
# --------------------------------------------------------------------------
@query(
    "q_effect_size",
    oracle="""
    WITH pooled AS (
      SELECT value,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS HUGEINT) AS c1,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS HUGEINT) AS c2
      FROM events WHERE event_type IN ('click', 'error')
      GROUP BY value
    ),
    cum AS (
      SELECT c1, c2, c1 + c2 AS c,
             COALESCE(SUM(c1 + c2) OVER (
               ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS f_prev
      FROM pooled
    ),
    uagg AS (
      SELECT CAST(SUM(c1) AS HUGEINT) AS n1,
             CAST(SUM(c2) AS HUGEINT) AS n2,
             CAST(SUM(c1 * (2 * f_prev + c + 1)) AS HUGEINT) AS r1_double
      FROM cum
    ),
    mo AS (
      SELECT
        CAST(SUM(CASE WHEN event_type = 'click' THEN vc ELSE 0 END)
             AS HUGEINT) AS s1,
        CAST(SUM(CASE WHEN event_type = 'error' THEN vc ELSE 0 END)
             AS HUGEINT) AS s2,
        CAST(SUM(CASE WHEN event_type = 'click' THEN vc * vc ELSE 0 END)
             AS HUGEINT) AS ss1,
        CAST(SUM(CASE WHEN event_type = 'error' THEN vc * vc ELSE 0 END)
             AS HUGEINT) AS ss2
      FROM (
        SELECT event_type,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS HUGEINT) AS vc
        FROM events WHERE event_type IN ('click', 'error')
      )
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(r1_double - n1 * (n1 + 1) AS BIGINT) AS u1_double,
           CAST(CASE WHEN (r1_double - n1 * (n1 + 1)) - n1 * n2 < 0
                     THEN -1 ELSE 1 END
                * (abs((r1_double - n1 * (n1 + 1)) - n1 * n2) * 1000000
                   // (n1 * n2)) AS BIGINT) AS cliffs_delta_micro,
           CAST(CASE WHEN (n1 * ss1 - s1 * s1) * n2
                          + (n2 * ss2 - s2 * s2) * n1 > 0
                      AND n1 + n2 > 2 THEN round(
             (CAST(s1 * n2 - s2 * n1 AS DOUBLE) / CAST(n1 * n2 AS DOUBLE))
             / sqrt(CAST((n1 * ss1 - s1 * s1) * n2
                         + (n2 * ss2 - s2 * s2) * n1 AS DOUBLE)
                    / (CAST(n1 * n2 AS DOUBLE)
                       * CAST(n1 + n2 - 2 AS DOUBLE)))
             * 1000000) END AS BIGINT) AS cohens_d_micro
    FROM uagg CROSS JOIN mo
    """,
)
def q_effect_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X308 — Cliff's delta + Cohen's d for click vs error values.

    Exactness: Cliff's delta comes straight from X292's double-rank
    U — delta = (u1_double − n1·n2)/(n1·n2) is one sign-separated
    truncating micro div of exact integers (ties contribute the
    correct 1/2 through the double ranks). Cohen's d uses exact
    centi-unit integer moments (DECIMAL(18,2)·100 — the q_ewma
    value-quantization rule); the multiplied-out pooled variance
    ((n1·ss1−s1²)·n2 + (n2·ss2−s2²)·n1)/(n1·n2·(n1+n2−2)) never
    materializes a fractional intermediate, and only the final d
    divides doubles built from those integers (one sqrt, micro round
    absorbs the ulp).

    Scale shape: one value-keyed aggregate + cumulative window over
    DISTINCT values (quantization-bounded) for U, one 1-row moment
    aggregate with map-side partials for d; output is a single row."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "error")
    )
    pooled = ev.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("c1"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("c2"),
    )
    w = W.orderBy("value").rowsBetween(W.unboundedPreceding, -1)
    cum = pooled.select(
        "c1",
        "c2",
        (F.col("c1") + F.col("c2")).alias("c"),
        F.coalesce(
            F.sum(F.col("c1") + F.col("c2")).over(w),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("f_prev"),
    )
    uagg = cum.agg(
        F.sum("c1").cast("decimal(38,0)").alias("n1"),
        F.sum("c2").cast("decimal(38,0)").alias("n2"),
        F.sum(F.col("c1") * (F.lit(2) * F.col("f_prev") + F.col("c") + 1))
        .cast("decimal(38,0)")
        .alias("r1_double"),
    )
    vc = ev.select(
        "event_type",
        F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))")
        .alias("vc"),
    )
    mo = vc.agg(
        F.sum(F.when(F.col("event_type") == "click", F.col("vc")).otherwise(
            F.lit(0).cast("decimal(38,0)")))
        .cast("decimal(38,0)")
        .alias("s1"),
        F.sum(F.when(F.col("event_type") == "error", F.col("vc")).otherwise(
            F.lit(0).cast("decimal(38,0)")))
        .cast("decimal(38,0)")
        .alias("s2"),
        F.sum(
            F.when(
                F.col("event_type") == "click", F.col("vc") * F.col("vc")
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        )
        .cast("decimal(38,0)")
        .alias("ss1"),
        F.sum(
            F.when(
                F.col("event_type") == "error", F.col("vc") * F.col("vc")
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        )
        .cast("decimal(38,0)")
        .alias("ss2"),
    )
    return uagg.crossJoin(F.broadcast(mo)).select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.expr("CAST(r1_double - n1 * (n1 + 1) AS BIGINT)").alias(
            "u1_double"
        ),
        F.expr(
            "CAST(CASE WHEN (r1_double - n1 * (n1 + 1)) - n1 * n2 < 0"
            " THEN -1 ELSE 1 END"
            " * (abs((r1_double - n1 * (n1 + 1)) - n1 * n2) * 1000000"
            "    div (n1 * n2)) AS BIGINT)"
        ).alias("cliffs_delta_micro"),
        F.expr(
            "CAST(CASE WHEN (n1 * ss1 - s1 * s1) * n2"
            "           + (n2 * ss2 - s2 * s2) * n1 > 0"
            "       AND n1 + n2 > 2 THEN round("
            " (CAST(s1 * n2 - s2 * n1 AS DOUBLE) / CAST(n1 * n2 AS DOUBLE))"
            " / sqrt(CAST((n1 * ss1 - s1 * s1) * n2"
            "             + (n2 * ss2 - s2 * s2) * n1 AS DOUBLE)"
            "        / (CAST(n1 * n2 AS DOUBLE)"
            "           * CAST(n1 + n2 - 2 AS DOUBLE)))"
            " * 1000000) END AS BIGINT)"
        ).alias("cohens_d_micro"),
    )


# --------------------------------------------------------------------------
# X309 — CUPED variance reduction (Deng et al. 2013): theta =
# cov(pre, post)/var(pre) over per-user pre/post period metric sums,
# and the achievable variance reduction rho² — the standard
# pre-experiment covariate adjustment every A/B platform applies
# before reading X127/X292's tests. Pre period = first 15 days of the
# span, post = the rest; users missing from a period carry 0 (the
# production convention for new/churned users).
# --------------------------------------------------------------------------
@query(
    "q_cuped",
    oracle="""
    WITH span AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
    per_user AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN datediff('day', d0, CAST(ts AS DATE)) < 15
                      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100
                                AS HUGEINT) ELSE 0::HUGEINT END)
                  AS HUGEINT) AS x,
             CAST(SUM(CASE WHEN datediff('day', d0, CAST(ts AS DATE)) >= 15
                      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100
                                AS HUGEINT) ELSE 0::HUGEINT END)
                  AS HUGEINT) AS y
      FROM events CROSS JOIN span GROUP BY user_id
    ),
    mo AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(x * x) AS HUGEINT) AS sxx,
             CAST(sum(x * y) AS HUGEINT) AS sxy,
             CAST(sum(y * y) AS HUGEINT) AS syy
      FROM per_user
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           CAST(CASE WHEN n * sxx - sx * sx > 0 THEN
                CAST(CASE WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 1 END
                     AS HUGEINT)
                * (abs(n * sxy - sx * sy) * 1000000
                   // (n * sxx - sx * sx)) END AS BIGINT) AS theta_micro,
           CAST(CASE WHEN (n * sxx - sx * sx) > 0
                      AND (n * syy - sy * sy) > 0 THEN
                ((n * sxy - sx * sy) * (n * sxy - sx * sy) * 10000)
                // ((n * sxx - sx * sx) * (n * syy - sy * sy))
                END AS BIGINT) AS var_reduction_bp
    FROM mo
    """,
)
def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X309 — CUPED theta and variance-reduction over user pre/post sums.

    Exactness: per-user period sums are exact centi-unit integers (the
    q_ewma DECIMAL(18,2) rule); all five moments are exact DECIMAL(38)
    sums; theta = (n·Σxy − Σx·Σy)/(n·Σx² − Σx²) and rho²·1e4 are
    sign-separated / non-negative truncating divs of those integers —
    the X281 closed-form discipline, zero float accumulation.

    Scale shape: one fact-sized per-user aggregate with map-side
    partials (the CASE runs inside the partial), one 1-row moment
    aggregate, constant arithmetic after. Single-row output."""
    span = load_table(spark, sf_dir, "events").agg(
        F.min(F.to_date("ts")).alias("d0")
    )
    per_user = (
        load_table(spark, sf_dir, "events")
        .crossJoin(F.broadcast(span))
        .select(
            "user_id",
            F.when(
                F.datediff(F.to_date("ts"), F.col("d0")) < 15,
                F.expr(
                    "CAST(CAST(value AS DECIMAL(18,2)) * 100"
                    " AS DECIMAL(38,0))"
                ),
            )
            .otherwise(F.lit(0).cast("decimal(38,0)"))
            .alias("xv"),
            F.when(
                F.datediff(F.to_date("ts"), F.col("d0")) >= 15,
                F.expr(
                    "CAST(CAST(value AS DECIMAL(18,2)) * 100"
                    " AS DECIMAL(38,0))"
                ),
            )
            .otherwise(F.lit(0).cast("decimal(38,0)"))
            .alias("yv"),
        )
        .groupBy("user_id")
        .agg(
            F.sum("xv").cast("decimal(38,0)").alias("x"),
            F.sum("yv").cast("decimal(38,0)").alias("y"),
        )
    )
    mo = per_user.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.expr("x * x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.expr("x * y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.expr("y * y")).cast("decimal(38,0)").alias("syy"),
    )
    return mo.select(
        F.col("n").cast("long").alias("n_users"),
        F.expr(
            "CAST(CASE WHEN n * sxx - sx * sx > 0 THEN"
            " CAST(CASE WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 1 END"
            "      AS DECIMAL(38,0))"
            " * (abs(n * sxy - sx * sy) * 1000000"
            "    div (n * sxx - sx * sx)) END AS BIGINT)"
        ).alias("theta_micro"),
        F.expr(
            "CAST(CASE WHEN (n * sxx - sx * sx) > 0"
            " AND (n * syy - sy * sy) > 0 THEN"
            " ((n * sxy - sx * sy) * (n * sxy - sx * sy) * 10000)"
            " div ((n * sxx - sx * sx) * (n * syy - sy * sy))"
            " END AS BIGINT)"
        ).alias("var_reduction_bp"),
    )


# --------------------------------------------------------------------------
# X310 — growth accounting (the Social Capital DAU decomposition):
# every day's active users split exactly into new / retained /
# resurrected, plus the day's churned count — the standard
# engagement-health ledger, with the accounting identity
# active = new + retained + resurrected enforced by construction
# (and pinned by test). Days with zero activity still appear
# (densified span — the X301/X303 lesson) so churn on silent days
# is visible.
# --------------------------------------------------------------------------
@query(
    "q_growth_accounting",
    oracle="""
    WITH au AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    fs AS (SELECT user_id, min(d) AS first_d FROM au GROUP BY user_id),
    span AS (SELECT min(d) AS d0, max(d) AS d1 FROM au),
    grid AS (
      SELECT d0 + CAST(i AS INTEGER) AS d
      FROM span, unnest(range(0, datediff('day', d0, d1) + 1)) AS t(i)
    ),
    cls AS (
      SELECT au.d,
             CAST(SUM(CASE WHEN fs.first_d = au.d THEN 1 ELSE 0 END)
                  AS BIGINT) AS new_users,
             CAST(SUM(CASE WHEN fs.first_d < au.d AND p.user_id IS NOT NULL
                      THEN 1 ELSE 0 END) AS BIGINT) AS retained,
             CAST(SUM(CASE WHEN fs.first_d < au.d AND p.user_id IS NULL
                      THEN 1 ELSE 0 END) AS BIGINT) AS resurrected
      FROM au
      JOIN fs USING (user_id)
      LEFT JOIN au p ON p.user_id = au.user_id AND p.d = au.d - 1
      GROUP BY au.d
    ),
    churn AS (
      SELECT a.d + 1 AS d, CAST(count(*) AS BIGINT) AS churned
      FROM au a
      LEFT JOIN au nxt ON nxt.user_id = a.user_id AND nxt.d = a.d + 1
      WHERE nxt.user_id IS NULL
      GROUP BY a.d + 1
    )
    SELECT g.d,
           COALESCE(c.new_users, 0) AS new_users,
           COALESCE(c.retained, 0) AS retained,
           COALESCE(c.resurrected, 0) AS resurrected,
           COALESCE(c.new_users, 0) + COALESCE(c.retained, 0)
             + COALESCE(c.resurrected, 0) AS active,
           COALESCE(ch.churned, 0) AS churned
    FROM grid g
    LEFT JOIN cls c ON c.d = g.d
    LEFT JOIN churn ch ON ch.d = g.d
    ORDER BY g.d
    """,
)
def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X310 — daily new/retained/resurrected/churned user accounting.

    Exactness: pure set algebra on exact distinct (user, day) rows —
    new = first day, retained = active yesterday too, resurrected =
    returning after a gap, churned(d) = active d−1 but not d; the
    identity active = new + retained + resurrected holds by
    construction (pinned by test). No floats anywhere.

    Scale shape: one fact-sized distinct (user, day) aggregate with
    map-side partials; first-seen is a user-keyed aggregate; the
    yesterday/tomorrow checks are self equi-joins on (user, d±1) —
    co-partitioned by user, no range join; the final table is
    calendar-sized (densified span grid). Presentation sort is
    grid-bounded (allowlist class a)."""
    ev = load_table(spark, sf_dir, "events")
    au = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    fs = au.groupBy("user_id").agg(F.min("d").alias("first_d"))
    span = au.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    grid = span.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("d")
    )
    prev = au.select("user_id", F.date_add("d", 1).alias("d"),
                     F.lit(1).alias("was_prev"))
    cls = (
        au.join(fs, "user_id")
        .join(prev, ["user_id", "d"], "left")
        .groupBy("d")
        .agg(
            F.sum(
                F.when(F.col("first_d") == F.col("d"), 1).otherwise(0)
            ).cast("long").alias("new_users"),
            F.sum(
                F.when(
                    (F.col("first_d") < F.col("d"))
                    & F.col("was_prev").isNotNull(),
                    1,
                ).otherwise(0)
            ).cast("long").alias("retained"),
            F.sum(
                F.when(
                    (F.col("first_d") < F.col("d"))
                    & F.col("was_prev").isNull(),
                    1,
                ).otherwise(0)
            ).cast("long").alias("resurrected"),
        )
    )
    nxt = au.select("user_id", F.date_sub("d", 1).alias("d"),
                    F.lit(1).alias("has_next"))
    churn = (
        au.join(nxt, ["user_id", "d"], "left")
        .filter(F.col("has_next").isNull())
        .select(F.date_add("d", 1).alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("long").alias("churned"))
    )
    return (
        grid.join(cls, "d", "left")
        .join(churn, "d", "left")
        .select(
            "d",
            F.coalesce("new_users", F.lit(0)).alias("new_users"),
            F.coalesce("retained", F.lit(0)).alias("retained"),
            F.coalesce("resurrected", F.lit(0)).alias("resurrected"),
            (
                F.coalesce("new_users", F.lit(0))
                + F.coalesce("retained", F.lit(0))
                + F.coalesce("resurrected", F.lit(0))
            ).alias("active"),
            F.coalesce("churned", F.lit(0)).alias("churned"),
        )
        .orderBy("d")
    )


# --------------------------------------------------------------------------
# X311 — Kendall tau-b rank correlation between the zero-filled daily
# count series of every event-type pair — "do these two metrics move
# together", robust to monotone rescaling (the rank twin of X178's
# rolling Pearson), with exact tie correction (tau-b). Pure pair
# counting: C, D and the tie terms are exact integers over the
# calendar-sized day-pair set; one sqrt at the end.
# --------------------------------------------------------------------------
@query(
    "q_kendall_tau",
    oracle="""
    WITH obs AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(count(*) AS HUGEINT) AS x
      FROM events GROUP BY 1, 2
    ),
    span AS (SELECT min(d) AS d0, max(d) AS d1 FROM obs),
    grid AS (
      SELECT event_type, unnest(range(0, datediff('day', d0, d1) + 1)) AS i
      FROM (SELECT DISTINCT event_type FROM obs) CROSS JOIN span
    ),
    obs2 AS (
      SELECT o.event_type, datediff('day', s.d0, o.d) AS i, x
      FROM obs o CROSS JOIN span s
    ),
    dense AS (
      SELECT g.event_type, g.i, COALESCE(o.x, 0::HUGEINT) AS x
      FROM grid g LEFT JOIN obs2 o USING (event_type, i)
    ),
    pairs AS (
      SELECT a.event_type AS t1, b.event_type AS t2, a.i,
             a.x AS x, b.x AS y
      FROM dense a JOIN dense b USING (i)
      WHERE a.event_type < b.event_type
    ),
    pp AS (
      SELECT p.t1, p.t2,
             CAST(SUM(CASE WHEN (CAST(q.x AS HUGEINT) - p.x)
                              * (CAST(q.y AS HUGEINT) - p.y) > 0
                      THEN 1 ELSE 0 END) AS HUGEINT) AS c,
             CAST(SUM(CASE WHEN (CAST(q.x AS HUGEINT) - p.x)
                              * (CAST(q.y AS HUGEINT) - p.y) < 0
                      THEN 1 ELSE 0 END) AS HUGEINT) AS dd,
             CAST(SUM(CASE WHEN q.x = p.x THEN 1 ELSE 0 END)
                  AS HUGEINT) AS tx,
             CAST(SUM(CASE WHEN q.y = p.y THEN 1 ELSE 0 END)
                  AS HUGEINT) AS ty,
             CAST(count(*) AS HUGEINT) AS n0
      FROM pairs p
      JOIN pairs q ON q.t1 = p.t1 AND q.t2 = p.t2 AND q.i > p.i
      GROUP BY 1, 2
    )
    SELECT t1, t2, CAST(c AS BIGINT) AS concordant,
           CAST(dd AS BIGINT) AS discordant,
           CAST(round(
             (CAST(c AS DOUBLE) - CAST(dd AS DOUBLE))
             / sqrt(CAST(n0 - tx AS DOUBLE) * CAST(n0 - ty AS DOUBLE))
             * 1000000) AS BIGINT) AS tau_b_micro
    FROM pp
    WHERE n0 - tx > 0 AND n0 - ty > 0
    ORDER BY t1, t2
    """,
)
def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X311 — tau-b between every pair of types' daily count series.

    Exactness: concordant/discordant/tie counts are exact integer
    sums over the day-pair set (zero-filled series — the X303 rule);
    tau-b = (C−D)/sqrt((n0−n1)(n0−n2)) divides doubles built from
    those exact integers (one sqrt, micro round absorbs the ulp).
    Degenerate pairs (a constant series: n0 = ties) are excluded
    rather than emitted as NaN.

    Scale shape: one fact-sized (type, day) aggregate; the pair set
    is calendar-sized (span² per type pair — the X304 argument:
    independent of event volume, and the O(n²) counting IS the
    published tau-b); the output is type-pair-sized. Presentation
    sort is pair-bounded (allowlist class a)."""
    ev = load_table(spark, sf_dir, "events")
    obs = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("x"))
    span = obs.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    grid = (
        obs.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(span))
        .select(
            "event_type",
            F.explode(
                F.sequence(F.lit(0), F.datediff("d1", "d0"))
            ).alias("i"),
        )
    )
    obs2 = obs.crossJoin(F.broadcast(span)).select(
        "event_type", F.datediff("d", "d0").alias("i"), "x"
    )
    # r16 (guide §2.4/§5): both sides of the day-pair self-join (and the
    # q2 re-aliasing on top) re-derived the grid and the fact aggregate
    # per consumer (measured plan: 31 Exchange / 16 scans). Calendar-
    # bounded frame: persist, one fact pass.
    dense = caching.persist(
        grid.join(obs2, ["event_type", "i"], "left")
        .withColumn(
            "x", F.coalesce(F.col("x"), F.lit(0).cast("decimal(38,0)"))
        )
    )
    b = dense.select(
        F.col("event_type").alias("t2"),
        F.col("i").alias("i"),
        F.col("x").alias("y"),
    )
    pairs = (
        dense.withColumnRenamed("event_type", "t1")
        .join(b, "i")
        .filter(F.col("t1") < F.col("t2"))
    )
    q2 = pairs.select(
        F.col("t1"),
        F.col("t2"),
        F.col("i").alias("j"),
        F.col("x").alias("qx"),
        F.col("y").alias("qy"),
    )
    pp = (
        pairs.join(q2, ["t1", "t2"])
        .filter(F.col("j") > F.col("i"))
        .groupBy("t1", "t2")
        .agg(
            F.sum(
                F.when((F.col("qx") - F.col("x")) * (F.col("qy") - F.col("y"))
                       > 0, 1).otherwise(0)
            ).cast("decimal(38,0)").alias("c"),
            F.sum(
                F.when((F.col("qx") - F.col("x")) * (F.col("qy") - F.col("y"))
                       < 0, 1).otherwise(0)
            ).cast("decimal(38,0)").alias("dd"),
            F.sum(F.when(F.col("qx") == F.col("x"), 1).otherwise(0))
            .cast("decimal(38,0)").alias("tx"),
            F.sum(F.when(F.col("qy") == F.col("y"), 1).otherwise(0))
            .cast("decimal(38,0)").alias("ty"),
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n0"),
        )
    )
    return (
        pp.filter((F.col("n0") - F.col("tx") > 0)
                  & (F.col("n0") - F.col("ty") > 0))
        .select(
            "t1",
            "t2",
            F.col("c").cast("long").alias("concordant"),
            F.col("dd").cast("long").alias("discordant"),
            F.expr(
                "CAST(round("
                " (CAST(c AS DOUBLE) - CAST(dd AS DOUBLE))"
                " / sqrt(CAST(n0 - tx AS DOUBLE) * CAST(n0 - ty AS DOUBLE))"
                " * 1000000) AS BIGINT)"
            ).alias("tau_b_micro"),
        )
        .orderBy("t1", "t2")
    )


#: Upper-5% critical values of F(d, ∞) in milli — the large-N limit
#: chi²(d)/d of the published F table (the regime a corpus-scale
#: omnibus test is always in). Shared by X312 (ANOVA) / X314 (Levene).
_F_INF_CRIT_MILLI = (
    "CASE dof1 WHEN 1 THEN 3841 WHEN 2 THEN 2996 WHEN 3 THEN 2605"
    " WHEN 4 THEN 2372 WHEN 5 THEN 2214 WHEN 6 THEN 2099"
    " WHEN 7 THEN 2010 WHEN 8 THEN 1938 WHEN 9 THEN 1880"
    " WHEN 10 THEN 1831 END"
)


def _anova_f_from_vc(vc_rows_sql: str) -> str:
    """DuckDB oracle body: one-way ANOVA F over (grp, vc) rows.

    Per-group s²/n is quantized to integer micro with one truncating
    div per GROUP (groups are few; the sum of those integers is then
    order-independent — the reason A is not summed as doubles), so
    SSB/SSW and F are pure integer arithmetic end-to-end.
    """
    return f"""
    WITH vc AS ({vc_rows_sql}),
    g AS (
      SELECT grp, CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(v) AS HUGEINT) AS s,
             CAST(sum(v * v) AS HUGEINT) AS ss
      FROM vc GROUP BY grp
    ),
    a AS (
      SELECT CAST(sum(s * s * 1000000 // n) AS HUGEINT) AS a_micro,
             CAST(sum(n) AS HUGEINT) AS nn,
             CAST(sum(s) AS HUGEINT) AS stot,
             CAST(sum(ss) AS HUGEINT) AS sstot,
             CAST(count(*) AS HUGEINT) AS k
      FROM g
    ),
    f AS (
      SELECT CAST(k AS BIGINT) AS k, CAST(nn AS BIGINT) AS n,
             CAST(k - 1 AS BIGINT) AS dof1,
             a_micro - stot * stot * 1000000 // nn AS ssb_micro,
             sstot * 1000000 - a_micro AS ssw_micro
      FROM a
    )
    SELECT k, n, dof1,
           CAST(ssb_micro AS BIGINT) AS ssb_micro,
           CAST(ssw_micro AS BIGINT) AS ssw_micro,
           CAST(CASE WHEN ssw_micro > 0 AND n > k THEN
                ssb_micro * (n - k) * 1000000
                // (ssw_micro * (k - 1)) END AS BIGINT) AS f_micro,
           CASE WHEN ssw_micro > 0 AND n > k THEN
             ssb_micro * (n - k) * ({_F_INF_CRIT_MILLI}) >= 0
             AND ssb_micro * (n - k) * 1000
                 > ssw_micro * (k - 1) * ({_F_INF_CRIT_MILLI})
           END AS significant
    FROM f
    """


# --------------------------------------------------------------------------
# X312 — one-way ANOVA omnibus F across event types on value: "is ANY
# group mean different" — the gate a family of pairwise X292/X308
# comparisons needs first (running pairwise tests without the omnibus
# inflates the family error X307 then has to correct). Exact integer
# sums of squares; the 5% gate is the published F(k−1, ∞) limit.
# --------------------------------------------------------------------------
@query(
    "q_anova_f",
    oracle=_anova_f_from_vc(
        "SELECT event_type AS grp,"
        " CAST(CAST(value AS DECIMAL(18,2)) * 100 AS HUGEINT) AS v"
        " FROM events"
    ),
)
def q_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X312 — omnibus one-way ANOVA F over event types.

    Exactness: per-group moments are exact centi-unit integers; the
    between-group term A = Σ_g s_g²/n_g is quantized to integer micro
    with ONE truncating div per group (groups are few, and summing
    integers — unlike summing s²/n doubles — is order-independent, so
    no shuffle-order drift); SSB, SSW and F are integer arithmetic
    after that, and the 5% verdict cross-multiplies against the
    F(dof1, ∞) table in milli.

    Scale shape: one fact-sized groupBy(type) with map-side partials;
    everything after runs on the k-row group table. Single-row
    output."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("grp"),
        F.expr(
            "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"
        ).alias("v"),
    )
    return _anova_f_spark(ev)


def _anova_f_spark(vc: DataFrame) -> DataFrame:
    """Spark side of the shared one-way ANOVA body (X312 / X314)."""
    g = vc.groupBy("grp").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("v").cast("decimal(38,0)").alias("s"),
        F.sum(F.expr("v * v")).cast("decimal(38,0)").alias("ss"),
    )
    a = g.agg(
        F.sum(F.expr("s * s * 1000000 div n"))
        .cast("decimal(38,0)")
        .alias("a_micro"),
        F.sum("n").cast("decimal(38,0)").alias("nn"),
        F.sum("s").cast("decimal(38,0)").alias("stot"),
        F.sum("ss").cast("decimal(38,0)").alias("sstot"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("k"),
    )
    f = a.select(
        F.col("k").cast("long").alias("k"),
        F.col("nn").cast("long").alias("n"),
        (F.col("k") - 1).cast("long").alias("dof1"),
        F.expr("a_micro - stot * stot * 1000000 div nn").alias("ssb_raw"),
        F.expr("sstot * 1000000 - a_micro").alias("ssw_raw"),
    )
    return f.select(
        "k",
        "n",
        "dof1",
        F.col("ssb_raw").cast("long").alias("ssb_micro"),
        F.col("ssw_raw").cast("long").alias("ssw_micro"),
        F.expr(
            "CAST(CASE WHEN ssw_raw > 0 AND n > k THEN"
            " ssb_raw * (n - k) * 1000000"
            " div (ssw_raw * (k - 1)) END AS BIGINT)"
        ).alias("f_micro"),
        F.expr(
            f"CASE WHEN ssw_raw > 0 AND n > k THEN"
            f" ssb_raw * (n - k) * ({_F_INF_CRIT_MILLI}) >= 0"
            f" AND ssb_raw * (n - k) * 1000"
            f"     > ssw_raw * (k - 1) * ({_F_INF_CRIT_MILLI})"
            f" END"
        ).alias("significant"),
    )


# --------------------------------------------------------------------------
# X314 — Brown-Forsythe (median-based Levene) variance-equality test:
# the ANOVA F applied to |v − median_g| — the robust scale-difference
# gate the t/ANOVA family assumes away (unequal spreads invalidate
# the pooled-variance tests; this is the audit that catches it).
# Medians are exact rank picks (2r >= n+1, the X280 rule); deviations
# are exact integers, then the X312 machinery runs unchanged.
# --------------------------------------------------------------------------
@query(
    "q_levene_bf",
    oracle=_anova_f_from_vc(
        """
        SELECT grp, abs(v - med) AS v FROM (
          SELECT event_type AS grp,
                 CAST(CAST(value AS DECIMAL(18,2)) * 100 AS HUGEINT) AS v,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY CAST(value AS DECIMAL(18,2)))
                   AS r,
                 count(*) OVER (PARTITION BY event_type) AS n
          FROM events
        ) x JOIN (
          SELECT grp2 AS grp, CAST(min(v2) AS HUGEINT) AS med FROM (
            SELECT event_type AS grp2,
                   CAST(CAST(value AS DECIMAL(18,2)) * 100 AS HUGEINT)
                     AS v2,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY CAST(value
                                               AS DECIMAL(18,2)))
                     AS r2,
                   count(*) OVER (PARTITION BY event_type) AS n2
            FROM events
          ) WHERE 2 * r2 >= n2 + 1 GROUP BY grp2
        ) m USING (grp)
        """
    ),
)
def q_levene_bf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X314 — Brown-Forsythe variance-equality across event types.

    Exactness: per-group medians are exact rank picks (upper median,
    2r ≥ n+1 — no float interpolation); absolute deviations are exact
    centi integers; the F statistic and gate reuse X312's
    integer-micro machinery verbatim (shared helper, shared oracle
    body — the fold==one-shot discipline applied to test statistics).

    Scale shape: one per-type rank window (partition-parallel, each
    partition value-distribution-sized after the fact aggregate — the
    window runs on raw rows here, which is fact-shaped but keyed and
    spill-safe), a broadcast-sized median join, then the k-row ANOVA
    table. Single-row output."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("grp"),
        F.expr(
            "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))"
        ).alias("v"),
    )
    wr = W.partitionBy("grp").orderBy("v")
    ranked = ev.select(
        "grp",
        "v",
        F.row_number().over(wr).alias("r"),
        F.count(F.lit(1)).over(W.partitionBy("grp")).alias("n"),
    )
    med = (
        ranked.filter(2 * F.col("r") >= F.col("n") + 1)
        .groupBy("grp")
        .agg(F.min("v").cast("decimal(38,0)").alias("med"))
    )
    dev = ev.join(F.broadcast(med), "grp").select(
        "grp", F.expr("abs(v - med)").alias("v")
    )
    return _anova_f_spark(dev)


# --------------------------------------------------------------------------
# X313 — Kaplan-Meier survival of user lifetime: S(t) at each churn
# time from the product-limit estimator, with users still active on
# the corpus' last day right-censored — THE retention curve (X141's
# cohort table reads one cohort at a time; this is the pooled
# censoring-correct version). The product is carried as a cumulative
# sum of per-step milli-quantized ln factors (the X281 rule turned
# into a running product), so cross-engine parity holds step by step.
# --------------------------------------------------------------------------
@query(
    "q_survival_km",
    oracle="""
    WITH au AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    mx AS (SELECT max(d) AS dmax FROM au),
    life AS (
      SELECT user_id, datediff('day', min(d), max(d)) AS t,
             CAST(max(d) = (SELECT dmax FROM mx) AS INT) AS censored
      FROM au GROUP BY user_id
    ),
    lt AS (
      SELECT t, CAST(count(*) AS HUGEINT) AS n_at,
             CAST(SUM(1 - censored) AS HUGEINT) AS d_ev
      FROM life GROUP BY t
    ),
    risk AS (
      SELECT t, d_ev,
             CAST(SUM(n_at) OVER (ORDER BY t DESC) AS HUGEINT) AS n_risk
      FROM lt
    ),
    steps AS (
      SELECT t, n_risk, d_ev,
             CASE WHEN n_risk - d_ev > 0 THEN
               round(ln(CAST(n_risk - d_ev AS DOUBLE)) * 1000)
               - round(ln(CAST(n_risk AS DOUBLE)) * 1000)
             END AS lnf_milli
      FROM risk WHERE d_ev > 0
    ),
    curve AS (
      SELECT t, n_risk, d_ev,
             SUM(CASE WHEN lnf_milli IS NULL THEN 0
                 ELSE lnf_milli END) OVER (ORDER BY t) AS cum_milli,
             SUM(CASE WHEN lnf_milli IS NULL THEN 1 ELSE 0 END)
               OVER (ORDER BY t) AS dead
      FROM steps
    )
    SELECT CAST(t AS BIGINT) AS t_days,
           CAST(n_risk AS BIGINT) AS n_risk,
           CAST(d_ev AS BIGINT) AS n_events,
           CAST(CASE WHEN dead > 0 THEN 0 ELSE
                round(exp(CAST(cum_milli AS DOUBLE) / 1000.0) * 1000000)
                END AS BIGINT) AS s_micro
    FROM curve ORDER BY t_days
    """,
)
def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X313 — Kaplan-Meier product-limit survival of user lifetimes.

    Exactness: lifetimes, at-risk counts (a suffix sum over the
    lifetime distribution) and event counts are exact integers; each
    step factor ln((n−d)/n) is the DIFFERENCE of two per-value
    milli-quantized lns of integers (the X281 rule), accumulated as
    an exact integer cumulative sum; one exp per output row
    reconstitutes S(t) (micro round absorbs the ulp). A step that
    exhausts the risk set pins S to exactly 0 from there on (no
    ln(0)).

    Scale shape: one fact-sized distinct (user, day) + a user-keyed
    lifetime aggregate with map-side partials; everything after runs
    on the lifetime distribution (calendar-bounded distinct t
    values) — the suffix-sum and cumulative windows are grid-sized.
    Presentation sort is grid-bounded (allowlist class a)."""
    from pyspark.sql.window import Window as W

    au = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    )
    mx = au.agg(F.max("d").alias("dmax"))
    life = (
        au.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.datediff(F.max("d"), F.min("d")).alias("t"),
            F.max(
                F.when(F.col("d") == F.col("dmax"), 1).otherwise(0)
            ).alias("censored"),
        )
    )
    lt = life.groupBy("t").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n_at"),
        F.sum(F.lit(1) - F.col("censored"))
        .cast("decimal(38,0)")
        .alias("d_ev"),
    )
    risk = lt.select(
        "t",
        "d_ev",
        F.sum("n_at")
        .over(
            W.orderBy(F.desc("t")).rowsBetween(
                W.unboundedPreceding, W.currentRow
            )
        )
        .cast("decimal(38,0)")
        .alias("n_risk"),
    )
    steps = risk.filter(F.col("d_ev") > 0).select(
        "t",
        "n_risk",
        "d_ev",
        F.when(
            F.col("n_risk") - F.col("d_ev") > 0,
            F.round(
                F.log((F.col("n_risk") - F.col("d_ev")).cast("double"))
                * 1000
            )
            - F.round(F.log(F.col("n_risk").cast("double")) * 1000),
        ).alias("lnf_milli"),
    )
    wcum = W.orderBy("t").rowsBetween(W.unboundedPreceding, W.currentRow)
    curve = steps.select(
        "t",
        "n_risk",
        "d_ev",
        F.sum(
            F.when(F.col("lnf_milli").isNull(), 0).otherwise(
                F.col("lnf_milli")
            )
        )
        .over(wcum)
        .alias("cum_milli"),
        F.sum(F.when(F.col("lnf_milli").isNull(), 1).otherwise(0))
        .over(wcum)
        .alias("dead"),
    )
    return curve.select(
        F.col("t").cast("long").alias("t_days"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d_ev").cast("long").alias("n_events"),
        F.expr(
            "CAST(CASE WHEN dead > 0 THEN 0 ELSE"
            " round(exp(CAST(cum_milli AS DOUBLE) / 1000.0) * 1000000)"
            " END AS BIGINT)"
        ).alias("s_micro"),
    ).orderBy("t_days")


# --------------------------------------------------------------------------
# X315 — Poisson rate-change test: per event type, first-half vs
# second-half event counts conditioned on the total (the standard
# conditional binomial / C-test: given n = c1+c2, c1 ~ Bin(n, t1/T)
# under a constant rate), z = (c1·T − n·t1)/sqrt(n·t1·t2) — the batch
# formal-test twin of X297's streaming trailing-mean alert. The 5%
# two-sided gate is cross-multiplied ((c1·T − n·t1)²·10⁴ > 38416·
# n·t1·t2, 1.96² = 3.8416) so the verdict is pure integers.
# --------------------------------------------------------------------------
@query(
    "q_poisson_rate_test",
    oracle="""
    WITH span AS (
      SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
      FROM events
    ),
    halves AS (
      SELECT d0, datediff('day', d0, d1) + 1 AS sd,
             (datediff('day', d0, d1) + 2) // 2 AS t1
      FROM span
    ),
    cnt AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN datediff('day', h.d0, CAST(ts AS DATE))
                           < h.t1 THEN 1 ELSE 0 END) AS HUGEINT) AS c1,
             CAST(SUM(CASE WHEN datediff('day', h.d0, CAST(ts AS DATE))
                           >= h.t1 THEN 1 ELSE 0 END) AS HUGEINT) AS c2,
             CAST(max(h.t1) AS HUGEINT) AS t1,
             CAST(max(h.sd - h.t1) AS HUGEINT) AS t2
      FROM events CROSS JOIN halves h
      GROUP BY event_type
    )
    SELECT event_type, CAST(c1 AS BIGINT) AS c1, CAST(c2 AS BIGINT) AS c2,
           CAST(t1 AS BIGINT) AS t1_days, CAST(t2 AS BIGINT) AS t2_days,
           CAST(round(
             CAST(c1 * (t1 + t2) - (c1 + c2) * t1 AS DOUBLE)
             / sqrt(CAST((c1 + c2) * t1 * t2 AS DOUBLE))
             * 1000000) AS BIGINT) AS z_micro,
           (c1 * (t1 + t2) - (c1 + c2) * t1)
             * (c1 * (t1 + t2) - (c1 + c2) * t1) * 10000
             > 38416 * (c1 + c2) * t1 * t2 AS rate_changed
    FROM cnt ORDER BY event_type
    """,
)
def q_poisson_rate_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X315 — conditional binomial rate-change test per event type.

    Exactness: counts and exposure days are exact integers; the z
    identity multiplies the binomial mean/variance out so the only
    float work is one final sqrt on doubles built from exact integers
    (micro round absorbs the ulp); the significance verdict never
    touches floats (cross-multiplied squares against 1.96²·10⁴).

    Scale shape: one fact-sized groupBy(type) with the half-split
    CASE inside the map-side partial; the span scalar is a broadcast
    cross join; output is type-sized. Presentation sort is
    type-bounded (allowlist class a)."""
    ev = load_table(spark, sf_dir, "events")
    span = ev.agg(
        F.min(F.to_date("ts")).alias("d0"),
        F.max(F.to_date("ts")).alias("d1"),
    ).select(
        "d0",
        (F.datediff("d1", "d0") + 1).alias("sd"),
        ((F.datediff("d1", "d0") + 2) / 2).cast("long").alias("t1"),
    )
    cnt = (
        ev.crossJoin(F.broadcast(span))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(
                    F.datediff(F.to_date("ts"), F.col("d0")) < F.col("t1"),
                    1,
                ).otherwise(0)
            )
            .cast("decimal(38,0)")
            .alias("c1"),
            F.sum(
                F.when(
                    F.datediff(F.to_date("ts"), F.col("d0")) >= F.col("t1"),
                    1,
                ).otherwise(0)
            )
            .cast("decimal(38,0)")
            .alias("c2"),
            F.max("t1").cast("decimal(38,0)").alias("t1"),
            F.max(F.col("sd") - F.col("t1"))
            .cast("decimal(38,0)")
            .alias("t2"),
        )
    )
    return cnt.select(
        "event_type",
        F.col("c1").cast("long").alias("c1"),
        F.col("c2").cast("long").alias("c2"),
        F.col("t1").cast("long").alias("t1_days"),
        F.col("t2").cast("long").alias("t2_days"),
        F.expr(
            "CAST(round("
            " CAST(c1 * (t1 + t2) - (c1 + c2) * t1 AS DOUBLE)"
            " / sqrt(CAST((c1 + c2) * t1 * t2 AS DOUBLE))"
            " * 1000000) AS BIGINT)"
        ).alias("z_micro"),
        F.expr(
            "(c1 * (t1 + t2) - (c1 + c2) * t1)"
            " * (c1 * (t1 + t2) - (c1 + c2) * t1) * 10000"
            " > 38416 * (c1 + c2) * t1 * t2"
        ).alias("rate_changed"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# X316 — Markov chain summary over X137's transition matrix: the
# stationary distribution via THREE quantized power iterations from
# uniform (each iteration's mass is re-quantized to integer micro
# BEFORE the next — the X72 centroid-round idiom applied to a vector
# iteration, so both engines iterate identical integers), and the
# entropy rate H = −Σ_i π_i Σ_j p_ij·ln p_ij in nano-nats via the
# split-ln milli rule — "how predictable is the event stream", the
# one-number summary of the whole transition table.
# --------------------------------------------------------------------------
@query(
    "q_markov_entropy",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    pairs0 AS (
      SELECT prev_type AS i, event_type AS j,
             CAST(COUNT(*) AS HUGEINT) AS c
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    ),
    states AS (SELECT DISTINCT i AS state FROM pairs0),
    pairs AS (
      SELECT p.i, p.j, p.c, t.t
      FROM pairs0 p
      JOIN (SELECT i, CAST(SUM(c) AS HUGEINT) AS t
            FROM pairs0 WHERE j IN (SELECT state FROM states)
            GROUP BY i) t USING (i)
      WHERE p.j IN (SELECT state FROM states)
    ),
    k AS (SELECT CAST(count(*) AS HUGEINT) AS k FROM states),
    pi0 AS (
      SELECT state, CAST(1000000 AS HUGEINT) // k AS pi
      FROM states CROSS JOIN k
    ),
    pi1 AS (
      SELECT j AS state, CAST(SUM(pi * c // t) AS HUGEINT) AS pi
      FROM pairs JOIN pi0 ON pi0.state = pairs.i GROUP BY j
    ),
    pi2 AS (
      SELECT j AS state, CAST(SUM(pi * c // t) AS HUGEINT) AS pi
      FROM pairs JOIN pi1 ON pi1.state = pairs.i GROUP BY j
    ),
    pi3 AS (
      SELECT j AS state, CAST(SUM(pi * c // t) AS HUGEINT) AS pi
      FROM pairs JOIN pi2 ON pi2.state = pairs.i GROUP BY j
    ),
    h AS (
      SELECT CAST(SUM(pi * c * CAST(round(ln(CAST(t AS DOUBLE)) * 1000)
                                    - round(ln(CAST(c AS DOUBLE)) * 1000)
                                    AS HUGEINT)
                      // t) AS HUGEINT) AS h_nano
      FROM pairs JOIN pi3 ON pi3.state = pairs.i
    )
    SELECT state, CAST(pi AS BIGINT) AS pi_micro,
           CAST(h_nano AS BIGINT) AS h_nano,
           CAST((SELECT k FROM k) AS BIGINT) AS n_states
    FROM pi3 CROSS JOIN h
    ORDER BY state
    """,
)
def q_markov_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X316 — stationary distribution + entropy rate of the event chain.

    Exactness: transition counts are exact; each power iteration maps
    integer micro mass through exact rationals with ONE truncating div
    per (i, j) term ((π_i·c_ij) div t_i), so both engines carry
    identical integers between iterations (mass drift from truncation
    is ≤ k² micro per pass, documented, and irrelevant to parity);
    the entropy rate splits ln p_ij = ln c_ij − ln t_i per VALUE
    (milli, the X281 rule) and weights by exact integers — h_nano is
    pure integer arithmetic. The chain is restricted to states with
    outgoing mass (every type, on this schema).

    Scale shape: one fact shuffle for the per-user lag window (keyed,
    parallel) — run ONCE; everything after operates on the k²-sized
    transition table, which is MODEL state (state-count squared, like
    a k-means centroid matrix), so the three power iterations run as
    exact integer arithmetic on the collected k² rows (the
    q_mmr_rerank / kmeans bounded-collect class) instead of three
    dataflow joins that each re-nested — and re-ran — the fact window
    (the pre-r16 plan measured 84 Exchange / 33 scans; a pairs0
    persist was tried first and measured SLOWER at sf0.1, 2.0 → 3.4 s,
    because the duplicated fact subtrees ran as concurrent stages
    while the cache materialization is a barrier). The entropy sum
    stays a Spark expression over a local k²-row frame so ln() runs
    on the same JVM libm as before (no new cross-engine surface).
    Presentation sort is state-bounded (allowlist class a).

    Plan-tooling note (r16 ADVICE): the pairs0.collect() runs at PLAN
    CONSTRUCTION time, so plan-only tooling (dump_plan / plan_profile /
    plan tests) pays one full fact-window execution where the pre-r16
    form built a lazy plan — expected cost of the bounded-collect
    shape, not a regression."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    seq = ev.select(
        "event_type",
        F.lag("event_type")
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev_type"),
    )
    pairs0 = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(F.col("prev_type").alias("i"), F.col("event_type").alias("j"))
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("c"))
    )
    # bounded k²-row collect (model-sized class); ints are exact
    rows = [(r["i"], r["j"], int(r["c"])) for r in pairs0.collect()]
    sset = {i for i, _, _ in rows}
    if not sset:
        # no multi-event users (r16 ADVICE): the pre-r16 dataflow form
        # returned an empty frame here; 1000000 // k would divide by 0
        return spark.createDataFrame(
            [], "state string, pi_micro long, h_nano long, n_states long"
        )
    inner = [(i, j, c) for i, j, c in rows if j in sset]
    t: dict = {}
    for i, _, c in inner:
        t[i] = t.get(i, 0) + c
    k = len(sset)
    # three quantized power iterations, per-term truncating div on
    # non-negative ints — Python // is the same operator as the
    # oracle's HUGEINT // and the old DECIMAL(38,0) div, term by term
    pi = {s: 1000000 // k for s in sorted(sset)}
    for _ in range(3):
        nxt: dict = {}
        for i, j, c in inner:
            if i in pi:
                nxt[j] = nxt.get(j, 0) + (pi[i] * c) // t[i]
        pi = nxt
    # entropy over the k²-row local frame: identical JVM expression as
    # before (split-ln milli rule), fed by exact integers
    pairs_local = spark.createDataFrame(
        [(i, c, t[i], pi[i]) for i, j, c in inner if i in pi],
        "i string, c long, t long, pi long",
    )
    h = pairs_local.agg(
        F.sum(
            F.expr(
                "CAST(pi AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))"
                " * CAST(round(ln(CAST(t AS DOUBLE)) * 1000)"
                "        - round(ln(CAST(c AS DOUBLE)) * 1000)"
                "        AS DECIMAL(38,0))"
                " div CAST(t AS DECIMAL(38,0))"
            )
        )
        .cast("decimal(38,0)")
        .alias("h_nano")
    )
    pi_df = spark.createDataFrame(
        sorted(pi.items()), "state string, pi long"
    )
    return (
        pi_df.crossJoin(F.broadcast(h))
        .select(
            "state",
            F.col("pi").cast("long").alias("pi_micro"),
            F.col("h_nano").cast("long").alias("h_nano"),
            F.lit(k).cast("long").alias("n_states"),
        )
        .orderBy("state")
    )


# --------------------------------------------------------------------------
# X320 — quantile treatment effects: the click-vs-error value gap at
# every decile (exact ceiling-rank order statistics, centi units) —
# the DISTRIBUTIONAL effect beside X308's mean effect (a treatment
# that moves the p90 but not the median has zero Cohen's d and a
# glaring QTE profile). No interpolation: both engines pick the same
# ceil(q·n/100)-th smallest value.
# --------------------------------------------------------------------------
@query(
    "q_qte_deciles",
    oracle="""
    WITH v AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY CAST(value AS DECIMAL(18,2)))
               AS r,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events WHERE event_type IN ('click', 'error')
    ),
    qs AS (SELECT unnest(range(10, 100, 10)) AS q),
    pick AS (
      SELECT q, event_type, CAST(min(vc) AS BIGINT) AS vq
      FROM v JOIN qs ON r = (q * n + 99) // 100
      GROUP BY q, event_type
    )
    SELECT c.q AS decile_pct,
           c.vq AS click_centi, e.vq AS error_centi,
           c.vq - e.vq AS qte_centi
    FROM pick c JOIN pick e USING (q)
    WHERE c.event_type = 'click' AND e.event_type = 'error'
    ORDER BY decile_pct
    """,
)
def q_qte_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X320 — per-decile quantile gaps between click and error values.

    Exactness: order statistics are exact ceiling-rank picks
    ((q·n+99) div 100 — no float interpolation, the X280/X314 median
    rule generalized to the decile grid); values are exact centi
    integers; the effect is an integer difference.

    Scale shape: one per-type rank window (keyed, partition-parallel
    over raw rows — fact-shaped but spill-safe); the decile join
    selects 9 rows per type from the ranked stream (an equi-join on
    the computed rank, no second pass); output is 9 rows.
    Presentation sort is decile-bounded (allowlist class a)."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "error")
    )
    v = ev.select(
        "event_type",
        F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
            "vc"
        ),
    ).select(
        "event_type",
        "vc",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("vc"))
        .alias("r"),
        F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("n"),
    )
    qs = ev.sparkSession.createDataFrame(
        [(q,) for q in range(10, 100, 10)], "q long"
    )
    pick = (
        v.join(
            F.broadcast(qs),
            F.col("r") == F.expr("(q * n + 99) div 100"),
        )
        .groupBy("q", "event_type")
        .agg(F.min("vc").alias("vq"))
    )
    c = pick.filter(F.col("event_type") == "click").select(
        "q", F.col("vq").alias("click_centi")
    )
    e = pick.filter(F.col("event_type") == "error").select(
        "q", F.col("vq").alias("error_centi")
    )
    return (
        c.join(e, "q")
        .select(
            F.col("q").alias("decile_pct"),
            "click_centi",
            "error_centi",
            (F.col("click_centi") - F.col("error_centi")).alias(
                "qte_centi"
            ),
        )
        .orderBy("decile_pct")
    )


# --------------------------------------------------------------------------
# X321 — Friedman test: the blocked (repeated-measures) rank test —
# days are blocks, event types are treatments, the response is the
# zero-filled daily count; within each day the k types are ranked
# (ties by the X292 double-rank trick so every rank sum is an exact
# integer), and the tie-corrected statistic chi2 = (k−1)·S/T with
# S = Σ_j (2R_j − n(k+1))², T = Σ_ij (2r_ij)² − n·k·(k+1)² runs on
# pure integers. The omnibus "do the types differ given day-to-day
# level shifts" — what X312's unblocked ANOVA cannot separate from
# global daily volume swings.
# --------------------------------------------------------------------------
@query(
    "q_friedman",
    oracle="""
    WITH obs AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(count(*) AS HUGEINT) AS x
      FROM events GROUP BY 1, 2
    ),
    span AS (SELECT min(d) AS d0, max(d) AS d1 FROM obs),
    grid AS (
      SELECT event_type, unnest(range(0, datediff('day', d0, d1) + 1)) AS i
      FROM (SELECT DISTINCT event_type FROM obs) CROSS JOIN span
    ),
    obs2 AS (
      SELECT o.event_type, datediff('day', s.d0, o.d) AS i, x
      FROM obs o CROSS JOIN span s
    ),
    dense AS (
      SELECT g.event_type, g.i, COALESCE(o.x, 0::HUGEINT) AS x
      FROM grid g LEFT JOIN obs2 o USING (event_type, i)
    ),
    valgrp AS (
      SELECT i, x, CAST(count(*) AS HUGEINT) AS c,
             COALESCE(SUM(count(*)) OVER (PARTITION BY i ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS f_prev
      FROM dense GROUP BY i, x
    ),
    dr AS (
      SELECT d.event_type, d.i,
             CAST(2 * v.f_prev + v.c + 1 AS HUGEINT) AS d2
      FROM dense d JOIN valgrp v ON v.i = d.i AND v.x = d.x
    ),
    dims AS (
      SELECT CAST(count(DISTINCT event_type) AS HUGEINT) AS k,
             CAST(count(DISTINCT i) AS HUGEINT) AS n
      FROM dense
    ),
    rs AS (
      SELECT event_type, CAST(SUM(d2) AS HUGEINT) AS dj
      FROM dr GROUP BY event_type
    ),
    stat AS (
      SELECT
        CAST(SUM((dj - n * (k + 1)) * (dj - n * (k + 1))) AS HUGEINT)
          AS s4,
        (SELECT CAST(SUM(d2 * d2) AS HUGEINT) FROM dr)
          - (SELECT n * k * (k + 1) * (k + 1) FROM dims) AS t4,
        max(k) AS k, max(n) AS n
      FROM rs CROSS JOIN dims
    )
    SELECT rs.event_type, CAST(dj AS BIGINT) AS rank_sum_double,
           CAST(CASE WHEN t4 > 0 THEN (k - 1) * s4 * 1000000 // t4 END
                AS BIGINT) AS chi2_micro,
           CAST(k - 1 AS BIGINT) AS dof,
           CASE WHEN t4 > 0 THEN
             (k - 1) * s4 * 1000 >
             t4 * (CASE CAST(k - 1 AS INT)
                   WHEN 1 THEN 3841 WHEN 2 THEN 5991 WHEN 3 THEN 7815
                   WHEN 4 THEN 9488 WHEN 5 THEN 11070 WHEN 6 THEN 12592
                   WHEN 7 THEN 14067 WHEN 8 THEN 15507 WHEN 9 THEN 16919
                   WHEN 10 THEN 18307 WHEN 11 THEN 19675
                   WHEN 12 THEN 21026 END)
           END AS significant
    FROM rs CROSS JOIN stat
    ORDER BY rs.event_type
    """,
)
def q_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X321 — Friedman blocked rank test, days × event types.

    Exactness: within-day double-ranks (2·avg rank = 2·F_prev + c + 1)
    keep every rank sum an exact integer despite ties; the
    tie-corrected statistic (k−1)·S4/T4 (both ×4 of the textbook
    S and T, the factor cancels) is one truncating micro div, and the
    5% verdict cross-multiplies against the chi²(k−1) table in milli.
    Zero-filled blocks (the X303 rule) keep the block set identical
    across engines.

    Scale shape: one fact-sized (type, day) aggregate; within-day
    ranking runs per block over the k-type grid (a (day, value)
    aggregate + equi-join, never a fact-sized window); the statistic
    is a k-row fold. Presentation sort is type-bounded (allowlist
    class a)."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    obs = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("x")
    )
    span = obs.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    grid = (
        obs.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(span))
        .select(
            "event_type",
            F.explode(F.sequence(F.lit(0), F.datediff("d1", "d0"))).alias(
                "i"
            ),
        )
    )
    obs2 = obs.crossJoin(F.broadcast(span)).select(
        "event_type", F.datediff("d", "d0").alias("i"), "x"
    )
    # r16 (guide §2.4/§5): valgrp, the rank join, dims, rs and ssq each
    # re-derived the zero-filled grid — and with it the fact-sized
    # (type, day) aggregate — once per consumer (measured plan: 57
    # Exchange / 26 scans). The grid is (types × days)-sized, i.e.
    # calendar-bounded: persist it so the fact pass runs once.
    dense = caching.persist(
        grid.join(obs2, ["event_type", "i"], "left")
        .withColumn(
            "x", F.coalesce(F.col("x"), F.lit(0).cast("decimal(38,0)"))
        )
    )
    wday = (
        W.partitionBy("i")
        .orderBy("x")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    valgrp = (
        dense.groupBy("i", "x")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("c"))
        .select(
            "i",
            "x",
            "c",
            F.coalesce(
                F.sum("c").over(wday), F.lit(0).cast("decimal(38,0)")
            ).alias("f_prev"),
        )
    )
    dr = dense.join(valgrp, ["i", "x"]).select(
        "event_type",
        "i",
        (F.lit(2) * F.col("f_prev") + F.col("c") + 1)
        .cast("decimal(38,0)")
        .alias("d2"),
    )
    dims = dense.agg(
        F.countDistinct("event_type").cast("decimal(38,0)").alias("k"),
        F.countDistinct("i").cast("decimal(38,0)").alias("n"),
    )
    rs = dr.groupBy("event_type").agg(
        F.sum("d2").cast("decimal(38,0)").alias("dj")
    )
    ssq = dr.agg(
        F.sum(F.expr("d2 * d2")).cast("decimal(38,0)").alias("sumd2sq")
    )
    stat = (
        rs.crossJoin(F.broadcast(dims))
        .agg(
            F.sum(
                F.expr(
                    "(dj - n * (k + 1)) * (dj - n * (k + 1))"
                )
            )
            .cast("decimal(38,0)")
            .alias("s4"),
            F.max("k").alias("k"),
            F.max("n").alias("n"),
        )
        .crossJoin(F.broadcast(ssq))
        .select(
            "s4",
            "k",
            "n",
            F.expr("sumd2sq - n * k * (k + 1) * (k + 1)").alias("t4"),
        )
    )
    crit = (
        "(CASE CAST(k - 1 AS INT)"
        " WHEN 1 THEN 3841 WHEN 2 THEN 5991 WHEN 3 THEN 7815"
        " WHEN 4 THEN 9488 WHEN 5 THEN 11070 WHEN 6 THEN 12592"
        " WHEN 7 THEN 14067 WHEN 8 THEN 15507 WHEN 9 THEN 16919"
        " WHEN 10 THEN 18307 WHEN 11 THEN 19675 WHEN 12 THEN 21026 END)"
    )
    return (
        rs.crossJoin(F.broadcast(stat))
        .select(
            "event_type",
            F.col("dj").cast("long").alias("rank_sum_double"),
            F.expr(
                "CAST(CASE WHEN t4 > 0 THEN"
                " (k - 1) * s4 * 1000000 div t4 END AS BIGINT)"
            ).alias("chi2_micro"),
            F.expr("CAST(k - 1 AS BIGINT)").alias("dof"),
            F.expr(
                f"CASE WHEN t4 > 0 THEN"
                f" (k - 1) * s4 * 1000 > t4 * {crit} END"
            ).alias("significant"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# X322 — Wald-Wolfowitz runs test on daily deltas: are up/down moves
# of each type's zero-filled daily count series random, or do they
# trend/oscillate? (Too FEW runs = trending, too MANY = oscillating —
# the direction X303's ACF quantifies, here as a distribution-free
# yes/no.) Zero deltas are dropped before run counting (the classic
# treatment); E[R] and Var[R] are the published closed forms,
# multiplied out so the gate is pure integers.
# --------------------------------------------------------------------------
@query(
    "q_runs_test",
    oracle="""
    WITH obs AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(count(*) AS HUGEINT) AS x
      FROM events GROUP BY 1, 2
    ),
    span AS (SELECT min(d) AS d0, max(d) AS d1 FROM obs),
    grid AS (
      SELECT event_type, unnest(range(0, datediff('day', d0, d1) + 1)) AS i
      FROM (SELECT DISTINCT event_type FROM obs) CROSS JOIN span
    ),
    obs2 AS (
      SELECT o.event_type, datediff('day', s.d0, o.d) AS i, x
      FROM obs o CROSS JOIN span s
    ),
    dense AS (
      SELECT g.event_type, g.i, COALESCE(o.x, 0::HUGEINT) AS x
      FROM grid g LEFT JOIN obs2 o USING (event_type, i)
    ),
    delta AS (
      SELECT event_type, i,
             CASE WHEN x > lag(x) OVER w THEN 1
                  WHEN x < lag(x) OVER w THEN -1 END AS s
      FROM dense WINDOW w AS (PARTITION BY event_type ORDER BY i)
    ),
    signs AS (
      SELECT event_type, i, s,
             lag(s) OVER (PARTITION BY event_type ORDER BY i) AS sp
      FROM delta WHERE s IS NOT NULL
    ),
    agg AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS HUGEINT)
               AS np,
             CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS HUGEINT)
               AS nm,
             CAST(1 + SUM(CASE WHEN sp IS NOT NULL AND s <> sp
                          THEN 1 ELSE 0 END) AS HUGEINT) AS r
      FROM signs GROUP BY event_type
    )
    SELECT event_type,
           CAST(np AS BIGINT) AS n_up, CAST(nm AS BIGINT) AS n_down,
           CAST(r AS BIGINT) AS n_runs,
           CAST(CASE WHEN np > 0 AND nm > 0
                      AND 2 * np * nm > np + nm AND np + nm > 1 THEN
             round(CAST(r * (np + nm) - 2 * np * nm - (np + nm)
                        AS DOUBLE)
                   / sqrt(CAST(2 * np * nm
                               * (2 * np * nm - np - nm) AS DOUBLE)
                          / CAST(np + nm - 1 AS DOUBLE))
                   * 1000000) END AS BIGINT) AS z_micro,
           CASE WHEN np > 0 AND nm > 0
                 AND 2 * np * nm > np + nm AND np + nm > 1 THEN
             (r * (np + nm) - 2 * np * nm - (np + nm))
             * (r * (np + nm) - 2 * np * nm - (np + nm))
             * (np + nm - 1) * 10000
             > 38416 * 2 * np * nm * (2 * np * nm - np - nm)
           END AS non_random
    FROM agg ORDER BY event_type
    """,
)
def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X322 — runs test for randomness of daily up/down moves per type.

    Exactness: run/sign counts are exact integers over the
    zero-filled series (zero deltas dropped, the classic treatment);
    with N = n₊+n₋, the centered numerator R·N − 2n₊n₋ − N and the
    variance 2n₊n₋(2n₊n₋−N)/(N−1) are multiplied out so z is one
    sqrt over doubles built from exact integers and the 5% verdict
    is a pure integer cross-multiplication (1.96²·10⁴ = 38416).
    Degenerate series (one sign absent, or variance ≤ 0) emit NULLs.

    Scale shape: one fact-sized (type, day) aggregate; the delta and
    run windows are keyed by type over the calendar-sized grid;
    output is type-sized. Presentation sort is type-bounded
    (allowlist class a)."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    obs = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("x")
    )
    span = obs.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    grid = (
        obs.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(span))
        .select(
            "event_type",
            F.explode(F.sequence(F.lit(0), F.datediff("d1", "d0"))).alias(
                "i"
            ),
        )
    )
    obs2 = obs.crossJoin(F.broadcast(span)).select(
        "event_type", F.datediff("d", "d0").alias("i"), "x"
    )
    dense = grid.join(obs2, ["event_type", "i"], "left").withColumn(
        "x", F.coalesce(F.col("x"), F.lit(0).cast("decimal(38,0)"))
    )
    w = W.partitionBy("event_type").orderBy("i")
    delta = dense.select(
        "event_type",
        "i",
        F.when(F.col("x") > F.lag("x").over(w), 1)
        .when(F.col("x") < F.lag("x").over(w), -1)
        .alias("s"),
    )
    signs = delta.filter(F.col("s").isNotNull()).select(
        "event_type", "i", "s", F.lag("s").over(w).alias("sp")
    )
    agg = signs.groupBy("event_type").agg(
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("np"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("nm"),
        (
            F.lit(1)
            + F.sum(
                F.when(
                    F.col("sp").isNotNull() & (F.col("s") != F.col("sp")),
                    1,
                ).otherwise(0)
            )
        )
        .cast("decimal(38,0)")
        .alias("r"),
    )
    guard = (
        "np > 0 AND nm > 0 AND 2 * np * nm > np + nm AND np + nm > 1"
    )
    return agg.select(
        "event_type",
        F.col("np").cast("long").alias("n_up"),
        F.col("nm").cast("long").alias("n_down"),
        F.col("r").cast("long").alias("n_runs"),
        F.expr(
            f"CAST(CASE WHEN {guard} THEN"
            " round(CAST(r * (np + nm) - 2 * np * nm - (np + nm)"
            "            AS DOUBLE)"
            "       / sqrt(CAST(2 * np * nm"
            "                   * (2 * np * nm - np - nm) AS DOUBLE)"
            "              / CAST(np + nm - 1 AS DOUBLE))"
            "       * 1000000) END AS BIGINT)"
        ).alias("z_micro"),
        F.expr(
            f"CASE WHEN {guard} THEN"
            " (r * (np + nm) - 2 * np * nm - (np + nm))"
            " * (r * (np + nm) - 2 * np * nm - (np + nm))"
            " * (np + nm - 1) * 10000"
            " > 38416 * 2 * np * nm * (2 * np * nm - np - nm)"
            " END"
        ).alias("non_random"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# X326 — Spearman rank correlation between every type pair's
# zero-filled daily count series: Pearson on tie-averaged ranks —
# sensitive to any monotone relation like X311's tau-b but on the
# familiar [-1, 1] product-moment scale (the pair of rank
# correlations every metric-health dashboard shows together). Ranks
# use the X292 double-rank trick (2·avg rank is an integer), so all
# five moments are exact integers and only the final rho divides
# doubles built from them.
# --------------------------------------------------------------------------
@query(
    "q_spearman",
    oracle="""
    WITH obs AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(count(*) AS HUGEINT) AS x
      FROM events GROUP BY 1, 2
    ),
    span AS (SELECT min(d) AS d0, max(d) AS d1 FROM obs),
    grid AS (
      SELECT event_type, unnest(range(0, datediff('day', d0, d1) + 1)) AS i
      FROM (SELECT DISTINCT event_type FROM obs) CROSS JOIN span
    ),
    obs2 AS (
      SELECT o.event_type, datediff('day', s.d0, o.d) AS i, x
      FROM obs o CROSS JOIN span s
    ),
    dense AS (
      SELECT g.event_type, g.i, COALESCE(o.x, 0::HUGEINT) AS x
      FROM grid g LEFT JOIN obs2 o USING (event_type, i)
    ),
    valgrp AS (
      SELECT event_type, x, CAST(count(*) AS HUGEINT) AS c,
             COALESCE(SUM(count(*)) OVER (PARTITION BY event_type
               ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS f_prev
      FROM dense GROUP BY event_type, x
    ),
    ranked AS (
      SELECT d.event_type, d.i,
             CAST(2 * v.f_prev + v.c + 1 AS HUGEINT) AS r2
      FROM dense d
      JOIN valgrp v ON v.event_type = d.event_type AND v.x = d.x
    ),
    pairs AS (
      SELECT a.event_type AS t1, b.event_type AS t2,
             a.r2 AS rx, b.r2 AS ry
      FROM ranked a JOIN ranked b USING (i)
      WHERE a.event_type < b.event_type
    ),
    mo AS (
      SELECT t1, t2, CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(rx) AS HUGEINT) AS sx,
             CAST(sum(ry) AS HUGEINT) AS sy,
             CAST(sum(rx * rx) AS HUGEINT) AS sxx,
             CAST(sum(rx * ry) AS HUGEINT) AS sxy,
             CAST(sum(ry * ry) AS HUGEINT) AS syy
      FROM pairs GROUP BY t1, t2
    )
    SELECT t1, t2, CAST(n AS BIGINT) AS n_days,
           CAST(CASE WHEN n * sxx - sx * sx > 0
                      AND n * syy - sy * sy > 0 THEN
             round(CAST(n * sxy - sx * sy AS DOUBLE)
                   / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                          * CAST(n * syy - sy * sy AS DOUBLE))
                   * 1000000) END AS BIGINT) AS rho_micro
    FROM mo ORDER BY t1, t2
    """,
)
def q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X326 — Spearman rho between every pair of types' daily series.

    Exactness: tie-averaged ranks carried as exact integer
    double-ranks (the X292 rule) over the zero-filled grid (the X303
    rule); all Pearson moments are exact DECIMAL(38) sums; rho
    divides doubles built from them (one sqrt, micro round absorbs
    the ulp; degenerate constant series emit NULL via the variance
    guard — the X311 discipline).

    Scale shape: one fact-sized (type, day) aggregate; per-type
    ranking is a (type, value) aggregate + equi-join (never a
    fact-sized window); the pair join runs on the calendar-sized
    grid; moments are a pair-count-sized aggregate. Presentation
    sort is pair-bounded (allowlist class a)."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    obs = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("x")
    )
    span = obs.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    grid = (
        obs.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(span))
        .select(
            "event_type",
            F.explode(F.sequence(F.lit(0), F.datediff("d1", "d0"))).alias(
                "i"
            ),
        )
    )
    obs2 = obs.crossJoin(F.broadcast(span)).select(
        "event_type", F.datediff("d", "d0").alias("i"), "x"
    )
    # r16 (guide §2.4/§5): the tie-group window, the rank join and the
    # self-joined pair sides each re-derived the grid (and the fact
    # aggregate under it) per consumer (measured plan: 36 Exchange / 16
    # scans). Calendar-bounded frame: persist, one fact pass.
    dense = caching.persist(
        grid.join(obs2, ["event_type", "i"], "left")
        .withColumn(
            "x", F.coalesce(F.col("x"), F.lit(0).cast("decimal(38,0)"))
        )
    )
    wtype = (
        W.partitionBy("event_type")
        .orderBy("x")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    valgrp = (
        dense.groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("c"))
        .select(
            "event_type",
            "x",
            "c",
            F.coalesce(
                F.sum("c").over(wtype), F.lit(0).cast("decimal(38,0)")
            ).alias("f_prev"),
        )
    )
    ranked = dense.join(valgrp, ["event_type", "x"]).select(
        "event_type",
        "i",
        (F.lit(2) * F.col("f_prev") + F.col("c") + 1)
        .cast("decimal(38,0)")
        .alias("r2"),
    )
    b = ranked.select(
        F.col("event_type").alias("t2"),
        "i",
        F.col("r2").alias("ry"),
    )
    pairs = (
        ranked.withColumnRenamed("event_type", "t1")
        .withColumnRenamed("r2", "rx")
        .join(b, "i")
        .filter(F.col("t1") < F.col("t2"))
    )
    mo = pairs.groupBy("t1", "t2").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("rx").cast("decimal(38,0)").alias("sx"),
        F.sum("ry").cast("decimal(38,0)").alias("sy"),
        F.sum(F.expr("rx * rx")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.expr("rx * ry")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.expr("ry * ry")).cast("decimal(38,0)").alias("syy"),
    )
    return mo.select(
        "t1",
        "t2",
        F.col("n").cast("long").alias("n_days"),
        F.expr(
            "CAST(CASE WHEN n * sxx - sx * sx > 0"
            " AND n * syy - sy * sy > 0 THEN"
            " round(CAST(n * sxy - sx * sy AS DOUBLE)"
            "       / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)"
            "              * CAST(n * syy - sy * sy AS DOUBLE))"
            "       * 1000000) END AS BIGINT)"
        ).alias("rho_micro"),
    ).orderBy("t1", "t2")


# --------------------------------------------------------------------------
# X331 — Herfindahl–Hirschman concentration of customer revenue per
# market segment: HHI = Σ shareᵢ² — the standard concentration audit
# (is one whale customer carrying the segment?). Exact-rational: with
# integer cent revenues, HHI·1e6 = (Σ revᵢ²)·1e6 div (Σ rev)² — no
# float share ever materializes; 1/HHI (the "effective number of
# customers") is one more integer division.
# --------------------------------------------------------------------------
@query(
    "q_hhi_concentration",
    oracle="""
    WITH rev AS (
      SELECT c_mktsegment AS segment, o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS HUGEINT))
                  AS HUGEINT) AS cents
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2
    ),
    agg AS (
      SELECT segment,
             CAST(count(*) AS BIGINT) AS n_customers,
             CAST(sum(cents) AS HUGEINT) AS total_cents,
             CAST(sum(cents * cents) AS HUGEINT) AS sum_sq
      FROM rev GROUP BY 1
    )
    SELECT segment, n_customers,
           CAST(total_cents AS BIGINT) AS total_cents,
           CAST(sum_sq * 1000000 // (total_cents * total_cents)
                AS BIGINT) AS hhi_micro,
           CAST(CASE WHEN sum_sq > 0 THEN
                (total_cents * total_cents) * 1000000 // sum_sq
                END AS BIGINT) AS effective_n_micro
    FROM agg ORDER BY segment
    """,
)
def q_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X331 — revenue HHI per market segment + the effective customer
    count (1/HHI): HHI·1e6 = Σcentsᵢ²·1e6 div (Σcents)².

    Exactness: revenues go through the X173 cent-integer discipline
    (round(price·100) per order, summed as integers); both the HHI
    and its reciprocal are single truncated divisions of DECIMAL(38)
    products. Scale shape: orders joins the broadcast-able customer
    dim, one (segment, custkey) aggregate with map-side partials,
    then a segment-sized rollup; output is 5 rows. Presentation sort
    is segment-bounded (allowlist class a)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr("CAST(round(o_totalprice * 100, 0) AS DECIMAL(38,0))").alias(
            "cents"
        ),
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    rev = (
        o.join(F.broadcast(c), "o_custkey")
        .groupBy("segment", "o_custkey")
        .agg(F.sum("cents").cast("decimal(38,0)").alias("cents"))
    )
    agg = rev.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("cents").cast("decimal(38,0)").alias("total_cents"),
        F.sum(F.col("cents") * F.col("cents"))
        .cast("decimal(38,0)")
        .alias("sum_sq"),
    )
    return agg.select(
        "segment",
        "n_customers",
        F.col("total_cents").cast("long").alias("total_cents"),
        F.expr(
            "CAST(sum_sq * 1000000 div (total_cents * total_cents)"
            " AS BIGINT)"
        ).alias("hhi_micro"),
        F.expr(
            "CAST(CASE WHEN sum_sq > 0 THEN"
            " (total_cents * total_cents) * 1000000 div sum_sq"
            " END AS BIGINT)"
        ).alias("effective_n_micro"),
    ).orderBy("segment")


# --------------------------------------------------------------------------
# X332 — CUSUM drift alarm on the daily value series per event type.
# The recurrence S_i = max(0, S_{i-1} + (x_i − k)) is NOT directly
# windowable — but it equals P_i − min_{j≤i} P_j where P is the
# prefix sum of (x_i − k): the running-min-of-prefix-sums identity
# turns a sequential detector into two parallel windows. Reference
# target k = the type's own mean daily value, kept EXACT by
# cross-multiplying: deviations are scaled by n_days (dᵢ = n·xᵢ − T),
# so k = T/n never materializes as a fraction.
# --------------------------------------------------------------------------
@query(
    "q_cusum_alarm",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(sum(CAST(round(value * 100, 0) AS HUGEINT))
                  AS HUGEINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(cents) AS HUGEINT) AS t
      FROM daily GROUP BY 1
    ),
    dev AS (
      SELECT daily.event_type, d, cents,
             n * cents - t AS dev_scaled, n, t
      FROM daily JOIN tot USING (event_type)
    ),
    pre AS (
      SELECT event_type, d, cents, dev_scaled, n, t,
             sum(dev_scaled) OVER (PARTITION BY event_type ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
      FROM dev
    ),
    cus AS (
      SELECT event_type, d, cents, dev_scaled, n, t, p,
             p - least(min(p) OVER (PARTITION BY event_type ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 0::HUGEINT) AS s
      FROM pre
    )
    SELECT event_type, d, CAST(cents AS BIGINT) AS cents,
           CAST(dev_scaled AS BIGINT) AS dev_scaled,
           CAST(s AS BIGINT) AS cusum_scaled,
           s > 2 * t AS alarm
    FROM cus ORDER BY event_type, d
    """,
)
def q_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X332 — CUSUM drift detector per event type over the daily
    revenue series, via the running-min-of-prefix-sums identity
    (S = P − min(P⁻, 0) reproduces max(0, S+dev) exactly — provable
    by induction, pinned by a planted-burst test). Alarm when S
    exceeds 2·T in n-scaled cents, i.e. two mean days of cumulative
    positive drift.

    Exactness: daily cents are integers; scaling deviations by n
    (dᵢ = n·xᵢ − T) keeps the mean-target subtraction integral; the
    prefix sum, running min, and alarm comparison are all integer
    ops — nothing floats. Scale shape: one fact-sized daily rollup,
    then calendar-sized windows PARTITIONED BY event_type (parallel
    across types; a real deployment partitions by metric key). Sort
    is calendar-bounded (allowlist class a)."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(
        F.sum(F.expr("CAST(round(value * 100, 0) AS DECIMAL(38,0))"))
        .cast("decimal(38,0)")
        .alias("cents")
    )
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("cents").cast("decimal(38,0)").alias("t"),
    )
    dev = daily.join(tot, "event_type").withColumn(
        "dev_scaled", F.expr("n * cents - t")
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    pre = dev.withColumn("p", F.sum("dev_scaled").over(w))
    cus = pre.withColumn(
        "s",
        F.expr("p")
        - F.least(
            F.min("p").over(w), F.lit(0).cast("decimal(38,0)")
        ),
    )
    return cus.select(
        "event_type",
        "d",
        F.col("cents").cast("long").alias("cents"),
        F.col("dev_scaled").cast("long").alias("dev_scaled"),
        F.col("s").cast("long").alias("cusum_scaled"),
        F.expr("s > 2 * t").alias("alarm"),
    ).orderBy("event_type", "d")


# --------------------------------------------------------------------------
# X333 — Poisson bootstrap CI of mean order value per priority: THE
# scalable bootstrap (Chamandy et al.) — resample weights are iid
# Poisson(1) per (row, replicate), so a replicate is one weighted
# aggregate and never needs the classical bootstrap's n-out-of-n
# index resample (which requires materializing each resample).
# Weights come from the X282 md5-uniform quantized to the Poisson(1)
# CDF cutoffs — deterministic, engine-invariant, mean-1.
# --------------------------------------------------------------------------
_PBOOT_B = 32
_PBOOT_SALT = "pboot-v1"
# Poisson(1) CDF cutoffs (k = 0..8; tail mass 1.1e-6 truncates to 8)
_PBOOT_CDF = (
    "CASE WHEN u < 0.36787944117144233 THEN 0"
    " WHEN u < 0.7357588823428847 THEN 1"
    " WHEN u < 0.9196986029286058 THEN 2"
    " WHEN u < 0.9810118431238462 THEN 3"
    " WHEN u < 0.9963401531726563 THEN 4"
    " WHEN u < 0.9994058151824183 THEN 5"
    " WHEN u < 0.9999167588507119 THEN 6"
    " WHEN u < 0.9999897508033253 THEN 7"
    " ELSE 8 END"
)


@query(
    "q_poisson_bootstrap",
    oracle=f"""
    WITH reps AS (
      SELECT o_orderpriority AS priority,
             CAST(round(o_totalprice * 100, 0) AS HUGEINT) AS cents,
             b,
             CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '|'
                    || CAST(b AS VARCHAR) || '|{_PBOOT_SALT}'), 1, 15))
                    ::BIGINT AS DOUBLE) / 1152921504606846976.0 AS u
      FROM orders, unnest(range({_PBOOT_B})) AS r(b)
    ),
    wtd AS (
      SELECT priority, b,
             CAST(sum(({_PBOOT_CDF}) * cents) AS HUGEINT) AS wsum,
             CAST(sum({_PBOOT_CDF}) AS HUGEINT) AS w
      FROM reps GROUP BY 1, 2
    ),
    means AS (
      SELECT priority, b,
             CASE WHEN w > 0 THEN wsum * 10000 // w END AS mean_micro
      FROM wtd
    ),
    ranked AS (
      SELECT priority, mean_micro,
             row_number() OVER (PARTITION BY priority
                                ORDER BY mean_micro, b) AS rk
      FROM means WHERE mean_micro IS NOT NULL
    ),
    point AS (
      SELECT o_orderpriority AS priority,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS HUGEINT))
                  * 10000 // count(*) AS BIGINT) AS point_micro,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT priority, n_orders, point_micro,
           CAST(min(CASE WHEN rk = 2 THEN mean_micro END)
                AS BIGINT) AS ci_lo_micro,
           CAST(min(CASE WHEN rk = {_PBOOT_B} - 1 THEN mean_micro END)
                AS BIGINT) AS ci_hi_micro
    FROM ranked JOIN point USING (priority)
    GROUP BY priority, n_orders, point_micro
    ORDER BY priority
    """,
)
def q_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X333 — Poisson(1)-weighted bootstrap (B=32) of mean order value
    per priority; CI = the 2nd / 31st order statistics of the
    replicate means (≈ the 3%/97% band at B=32).

    Exactness: the md5-uniform quantizes to the same IEEE double on
    both engines (15-hex/2^60, the X282 argument) and the CDF cutoff
    comparison is then an identical double compare, so every weight
    is the same exact integer; replicate means are truncated integer
    micro divisions; the order statistics come from a total order
    (mean, b). Scale shape: the 32× row expansion feeds a map-side
    combined (priority, b) aggregate — the shuffle carries 32·groups
    partial rows, not 32× the facts; at 100 TB this is the ONLY
    bootstrap that works (classical resampling materializes B
    copies). Presentation sort is group-bounded (class a)."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.expr("CAST(round(o_totalprice * 100, 0) AS DECIMAL(38,0))").alias(
            "cents"
        ),
        "o_orderkey",
    )
    # 32x explode + map-side-combined (priority, b) aggregate. Two
    # "optimizations" were built and MEASURED SLOWER in the r14 sweep
    # (the q_contamination_sweep lesson — B resamples are the work):
    # a 64-expression wide aggregate (2.75->8.79 s at sf0.1 vs the
    # explode's 7.44) and a 32-column uniform pre-projection
    # (12.53 s) — the hash agg's partial combine already makes the
    # exploded shuffle 32*groups rows, and the per-row md5 count is
    # identical in all three forms.
    # r15: fan the 32x hash work across the cluster BEFORE exploding —
    # locally the orders table is one input split, so the whole
    # B·n md5 loop was running in ONE task (measured solo: 8.0 s at
    # sf0.1, 32 cores idle); a slim round-robin shuffle of the 3
    # projected columns costs ~nothing and buys full parallelism
    # (8.0 -> sub-second). On a real cluster the scan already has many
    # splits, and defaultParallelism keeps the fan-out cluster-sized
    # rather than a magic 32. Weights are per-(orderkey, b) md5s and
    # every aggregate is integer, so the result is partition-invariant.
    reps = o.repartition(
        spark.sparkContext.defaultParallelism
    ).withColumn(
        "b", F.explode(F.sequence(F.lit(0), F.lit(_PBOOT_B - 1)))
    ).withColumn(
        "u",
        F.expr(
            f"CAST(conv(substr(md5(CAST(o_orderkey AS STRING) || '|'"
            f" || CAST(b AS STRING) || '|{_PBOOT_SALT}'), 1, 15),"
            f" 16, 10) AS DOUBLE) / 1152921504606846976.0"
        ),
    )
    wtd = reps.groupBy("priority", "b").agg(
        F.sum(F.expr(f"({_PBOOT_CDF}) * cents"))
        .cast("decimal(38,0)")
        .alias("wsum"),
        F.sum(F.expr(_PBOOT_CDF)).cast("decimal(38,0)").alias("w"),
    )
    means = wtd.select(
        "priority",
        "b",
        F.expr(
            "CASE WHEN w > 0 THEN CAST(wsum * 10000 div w AS BIGINT) END"
        ).alias("mean_micro"),
    ).filter(F.col("mean_micro").isNotNull())
    from pyspark.sql.window import Window as W

    ranked = means.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("priority").orderBy("mean_micro", "b")
        ),
    )
    ci = ranked.groupBy("priority").agg(
        F.min(F.when(F.col("rk") == 2, F.col("mean_micro"))).alias(
            "ci_lo_micro"
        ),
        F.min(
            F.when(F.col("rk") == _PBOOT_B - 1, F.col("mean_micro"))
        ).alias("ci_hi_micro"),
    )
    point = o.groupBy("priority").agg(
        F.expr(
            "CAST(sum(cents) * 10000 div count(*) AS BIGINT)"
        ).alias("point_micro"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )
    return (
        point.join(ci, "priority")
        .select(
            "priority",
            "n_orders",
            "point_micro",
            F.col("ci_lo_micro").cast("long").alias("ci_lo_micro"),
            F.col("ci_hi_micro").cast("long").alias("ci_hi_micro"),
        )
        .orderBy("priority")
    )


# --------------------------------------------------------------------------
# X334 — Anderson–Darling uniformity test of the event value mix per
# type: A² = −n − (1/n)·Σᵢ[(2i−1)·ln(uᵢ) + (2(n−i)+1)·ln(1−uᵢ)] over
# the ascending order — the tail-weighted EDF test (AD beats KS
# exactly where training-data bugs live: the distribution tails).
# u = (value+0.5)/501 maps the feed's [0, 500] value range strictly
# inside (0,1); a defensive clamp to [1e-9, 1-1e-9] keeps both
# logarithms finite for any out-of-family value (identical clamp on
# both engines, so parity is unaffected).
# --------------------------------------------------------------------------
@query(
    "q_anderson_darling",
    oracle="""
    WITH u AS (
      SELECT event_type,
             least(greatest((value + 0.5) / 501.0, 1e-9),
                   1 - 1e-9) AS u,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS i,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ),
    terms AS (
      SELECT event_type, n,
             (2 * i - 1) * ln(u) + (2 * (n - i) + 1) * ln(1 - u) AS t
      FROM u
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n,
           round(-CAST(max(n) AS DOUBLE)
                 - sum(t) / CAST(max(n) AS DOUBLE), 6) AS a2,
           round(-CAST(max(n) AS DOUBLE)
                 - sum(t) / CAST(max(n) AS DOUBLE), 6) > 2.492
             AS reject_uniform
    FROM terms GROUP BY event_type ORDER BY event_type
    """,
)
def q_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X334 — Anderson–Darling test against Uniform(-0.5, 500.5) per
    event type (fully-specified null → 5% critical value 2.492,
    Stephens' table). The u mapping + defensive clamp keep ln(u) and
    ln(1−u) finite at any value range.

    Exactness: ranks come from a TOTAL order ((value, event_id)); u
    and both logs are identical-input double expressions; the sum is
    6-dp rounded before output AND before the gate compare, so both
    engines gate on the same rounded value (the X275 calibration
    discipline). Scale shape: per-type rank windows track the fact
    scan (the X314 Levene adjudication — parallel across types, the
    partition key is the analysis unit); the reduction is one
    aggregate per type. Presentation sort is type-bounded (class a).
    """
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    u = ev.select(
        "event_type",
        F.expr(
            "least(greatest((value + 0.5) / 501.0, 1e-9), 1 - 1e-9)"
        ).alias("u"),
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("value", "event_id"))
        .alias("i"),
        F.count(F.lit(1))
        .over(W.partitionBy("event_type"))
        .alias("n"),
    )
    terms = u.select(
        "event_type",
        "n",
        F.expr(
            "(2 * i - 1) * ln(u) + (2 * (n - i) + 1) * ln(1 - u)"
        ).alias("t"),
    )
    a2 = F.round(
        -F.max("n").cast("double")
        - F.sum("t") / F.max("n").cast("double"),
        6,
    )
    return (
        terms.groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n"),
            a2.alias("a2"),
            (a2 > 2.492).alias("reject_uniform"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# X335 — upper-tail dependence of per-user click vs purchase spend:
# λ_U(q) = P(Y above its q-quantile | X above its q-quantile),
# estimated by exact joint exceedance counts at q ∈ {0.8, 0.9}. The
# copula-style audit behind "do whales click AND buy?" — correlation
# alone misses tail co-movement.
# --------------------------------------------------------------------------
@query(
    "q_tail_dependence",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(sum(CASE WHEN event_type = 'click'
                  THEN CAST(round(value * 100, 0) AS HUGEINT)
                  ELSE 0::HUGEINT END) AS HUGEINT) AS xc,
             CAST(sum(CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100, 0) AS HUGEINT)
                  ELSE 0::HUGEINT END) AS HUGEINT) AS yc
      FROM events GROUP BY user_id
    ),
    ranked AS (
      SELECT user_id, xc, yc,
             row_number() OVER (ORDER BY xc, user_id) AS rx,
             row_number() OVER (ORDER BY yc, user_id) AS ry,
             count(*) OVER () AS n
      FROM per_user
    ),
    qs AS (SELECT unnest([80, 90]) AS q_pct),
    flags AS (
      SELECT q_pct, n,
             CASE WHEN rx * 100 > q_pct * n THEN 1 ELSE 0 END AS fx,
             CASE WHEN ry * 100 > q_pct * n THEN 1 ELSE 0 END AS fy
      FROM ranked CROSS JOIN qs
    )
    SELECT q_pct,
           CAST(max(n) AS BIGINT) AS n_users,
           CAST(sum(fx) AS BIGINT) AS n_x_tail,
           CAST(sum(fx * fy) AS BIGINT) AS n_joint,
           CAST(CASE WHEN sum(fx) > 0 THEN
                CAST(sum(fx * fy) AS HUGEINT) * 1000000 // sum(fx)
                END AS BIGINT) AS lambda_u_micro
    FROM flags GROUP BY q_pct ORDER BY q_pct
    """,
)
def q_tail_dependence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X335 — empirical upper-tail dependence λ_U at q = 0.8 / 0.9
    between per-user click and purchase spend.

    Exactness: cent sums are integers; "above the q-quantile" is the
    cross-multiplied integer rank test rank·100 > q·n (no fractional
    quantile value ever materializes — the X156 weighted-median
    discipline); λ is one truncated micro division of exact counts.
    Scale shape: one fact-sized per-user aggregate, then each axis
    rank comes from operators/sampling.py:ranked_prefix_sums
    (repartitionByRange + partitioned windows — NEVER a global
    single-partition row_number over the row-scaling user table);
    the q ladder is a 2-row broadcast cross join. Output is 2 rows.
    """
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.expr(
                "CASE WHEN event_type = 'click'"
                " THEN CAST(round(value * 100, 0) AS DECIMAL(38,0))"
                " ELSE CAST(0 AS DECIMAL(38,0)) END"
            )
        )
        .cast("decimal(38,0)")
        .alias("xc"),
        F.sum(
            F.expr(
                "CASE WHEN event_type = 'purchase'"
                " THEN CAST(round(value * 100, 0) AS DECIMAL(38,0))"
                " ELSE CAST(0 AS DECIMAL(38,0)) END"
            )
        )
        .cast("decimal(38,0)")
        .alias("yc"),
    )
    # r16 examined, deliberately left un-persisted: the two axis-rank
    # passes and the row-count aggregate each re-run the fact-sized
    # per-user aggregate (measured plan: 18 Exchange / 5 scans), but a
    # per_user persist MEASURED SLOWER in the sandwich A/B at sf0.1
    # (warm 1.9 s un-persisted vs 2.2-2.3 s persisted) — the duplicated
    # aggregate subtrees run as concurrent stages inside the one job
    # (the q_wand_prune adjudication, same mechanism). At real scale
    # the knob flips and the per-user frame is a persisted/bucketed
    # intermediate.
    # ranks WITHOUT single-partition windows: the engine's two-level
    # ranked prefix sums (repartitionByRange + partitioned windows),
    # once per axis — the user table row-scales, so a global
    # row_number window would serialize it (the q_gini discipline)
    from mysql_cdc_to_http_spark.operators.sampling import (
        ranked_prefix_sums,
    )

    ones = per_user.withColumn("__one", F.lit(1).cast("bigint"))
    rx = ranked_prefix_sums(
        ones, [F.col("xc").asc(), F.col("user_id").asc()], ["__one"]
    ).select(
        "user_id", "xc", "yc", F.col("__one__cum").alias("rx")
    )
    ry = ranked_prefix_sums(
        ones, [F.col("yc").asc(), F.col("user_id").asc()], ["__one"]
    ).select("user_id", F.col("__one__cum").alias("ry"))
    nrow = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    ranked = rx.join(ry, "user_id").crossJoin(F.broadcast(nrow))
    qs = ranked.sparkSession.createDataFrame(
        [(80,), (90,)], "q_pct int"
    )
    flags = ranked.crossJoin(F.broadcast(qs)).select(
        "q_pct",
        "n",
        F.expr(
            "CASE WHEN rx * 100 > q_pct * n THEN 1 ELSE 0 END"
        ).alias("fx"),
        F.expr(
            "CASE WHEN ry * 100 > q_pct * n THEN 1 ELSE 0 END"
        ).alias("fy"),
    )
    return (
        flags.groupBy("q_pct")
        .agg(
            F.max("n").cast("long").alias("n_users"),
            F.sum("fx").cast("long").alias("n_x_tail"),
            F.sum(F.col("fx") * F.col("fy"))
            .cast("long")
            .alias("n_joint"),
            F.expr(
                "CAST(CASE WHEN sum(fx) > 0 THEN"
                " CAST(sum(fx * fy) AS DECIMAL(38,0)) * 1000000"
                " div sum(fx) END AS BIGINT)"
            ).alias("lambda_u_micro"),
        )
        .orderBy("q_pct")
    )


# --------------------------------------------------------------------------
# X336 — decision-stump feature audit: information gain of three
# candidate binary splits against the purchase label — the feature-
# selection sanity pass (which raw signal is worth a model?), and a
# leakage tripwire (an implausibly high IG means the feature encodes
# the label).
# --------------------------------------------------------------------------
@query(
    "q_info_gain",
    oracle="""
    WITH base AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             CASE WHEN value >= 50 THEN 1 ELSE 0 END AS f_value,
             CASE WHEN EXTRACT(hour FROM ts) >= 12 THEN 1 ELSE 0 END
               AS f_hour,
             CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS f_parity
      FROM events
    ),
    feats AS (
      SELECT feature,
             CASE feature WHEN 'value_ge_50' THEN f_value
                  WHEN 'hour_ge_12' THEN f_hour
                  ELSE f_parity END AS f,
             y
      FROM base,
           (SELECT unnest(['value_ge_50', 'hour_ge_12', 'user_parity'])
              AS feature) fx
    ),
    cells AS (
      SELECT feature, f, y, CAST(count(*) AS BIGINT) AS c
      FROM feats GROUP BY 1, 2, 3
    ),
    m AS (
      SELECT feature, f, y, c,
             sum(c) OVER (PARTITION BY feature, f) AS cf,
             sum(c) OVER (PARTITION BY feature, y) AS cy,
             sum(c) OVER (PARTITION BY feature) AS n
      FROM cells
    ),
    ymarg AS (
      SELECT feature, y, CAST(sum(c) AS BIGINT) AS cy,
             sum(sum(c)) OVER (PARTITION BY feature) AS ny
      FROM cells GROUP BY feature, y
    ),
    hy AS (
      SELECT feature,
             -sum(CAST(cy AS DOUBLE) / ny
                  * ln(CAST(cy AS DOUBLE) / ny)) AS hy
      FROM ymarg GROUP BY feature
    ),
    ent AS (
      SELECT feature,
             max(n) AS n,
             sum(CAST(c AS DOUBLE) / n * ln(CAST(c AS DOUBLE) / cf))
               AS neg_hyf
      FROM m GROUP BY feature
    )
    SELECT feature,
           CAST(n AS BIGINT) AS n_events,
           round(hy, 6) AS h_y,
           round(hy + neg_hyf, 6) AS info_gain
    FROM ent JOIN hy USING (feature) ORDER BY feature
    """,
)
def q_info_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X336 — information gain of three candidate stumps
    (value≥50, hour≥12, user parity) for the purchase label:
    IG = H(Y) − Σ_f (n_f/n)·H(Y|f), computed as H(Y) + Σ (c/n)·ln(c/c_f)
    (the conditional term folded to one pass over the 2×2 cells).

    Exactness: all cell counts are exact integers from ONE fact-sized
    aggregate per feature (the 3× feature expansion happens in the
    scan projection, map-side combined); every ln/ratio is an
    identical-input double behind the 6-dp round. H(Y) uses DISTINCT
    over the per-y marginal (2 values) — grid-sized, engine-safe
    because the cy values are exact integers. Scale shape: the only
    fact-sized work is the counting aggregate; entropy algebra runs
    on ≤ 4 cells per feature. Output is 3 rows."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.expr(
            "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"
        ).alias("y"),
        F.expr("CASE WHEN value >= 50 THEN 1 ELSE 0 END").alias(
            "f_value"
        ),
        F.expr(
            "CASE WHEN hour(ts) >= 12 THEN 1 ELSE 0 END"
        ).alias("f_hour"),
        F.expr("CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END").alias(
            "f_parity"
        ),
    )
    fx = base.sparkSession.createDataFrame(
        [("value_ge_50",), ("hour_ge_12",), ("user_parity",)],
        "feature string",
    )
    feats = base.crossJoin(F.broadcast(fx)).select(
        "feature",
        F.expr(
            "CASE feature WHEN 'value_ge_50' THEN f_value"
            " WHEN 'hour_ge_12' THEN f_hour ELSE f_parity END"
        ).alias("f"),
        "y",
    )
    cells = feats.groupBy("feature", "f", "y").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    m = cells.select(
        "feature",
        "f",
        "y",
        "c",
        F.sum("c").over(W.partitionBy("feature", "f")).alias("cf"),
        F.sum("c").over(W.partitionBy("feature", "y")).alias("cy"),
        F.sum("c").over(W.partitionBy("feature")).alias("n"),
    )
    # H(Y) from the per-(feature, y) marginal table — NOT a DISTINCT
    # trick over cell-level windows: with a balanced label both y
    # marginals are equal and sum(DISTINCT) would collapse them to one
    # term (caught by the planted balanced-label ledger, which
    # expected ln 2 and got ln 2 / 2 — the krippendorff bug class,
    # found at birth because the fixture was hand-computed).
    ymarg = cells.groupBy("feature", "y").agg(
        F.sum("c").cast("long").alias("cy")
    )
    hy = (
        ymarg.withColumn(
            "ny", F.sum("cy").over(W.partitionBy("feature"))
        )
        .groupBy("feature")
        .agg(
            (
                -F.sum(
                    F.expr(
                        "CAST(cy AS DOUBLE) / ny"
                        " * ln(CAST(cy AS DOUBLE) / ny)"
                    )
                )
            ).alias("hy")
        )
    )
    ent = m.groupBy("feature").agg(
        F.max("n").alias("n"),
        F.sum(
            F.expr("CAST(c AS DOUBLE) / n * ln(CAST(c AS DOUBLE) / cf)")
        ).alias("neg_hyf"),
    )
    return (
        ent.join(hy, "feature")
        .select(
            "feature",
            F.col("n").cast("long").alias("n_events"),
            F.round("hy", 6).alias("h_y"),
            F.round(F.col("hy") + F.col("neg_hyf"), 6).alias(
                "info_gain"
            ),
        )
        .orderBy("feature")
    )


# --------------------------------------------------------------------------
# X340 — rank-biserial correlation per event type (one-vs-rest on
# value): the effect-size companion of the Mann–Whitney U family —
# r = 1 − 2U/(n₁·n₂) rescales U onto [−1, 1]. U comes from the exact
# pairwise form 2U₁ = Σ_v c₁(v)·(2·below₂(v) + c₂(v)) (wins + half
# ties, doubled so ties never make a fraction) — value-grouped
# counts, no per-row ranks at all.
# --------------------------------------------------------------------------
@query(
    "q_rank_biserial",
    oracle="""
    WITH vc AS (
      SELECT event_type, value, count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    types AS (SELECT DISTINCT event_type AS t FROM events),
    split AS (
      SELECT types.t, vc.value,
             CAST(sum(CASE WHEN vc.event_type = types.t THEN c
                      ELSE 0 END) AS HUGEINT) AS c1,
             CAST(sum(CASE WHEN vc.event_type <> types.t THEN c
                      ELSE 0 END) AS HUGEINT) AS c2
      FROM vc CROSS JOIN types GROUP BY types.t, vc.value
    ),
    cum AS (
      SELECT t, value, c1, c2,
             COALESCE(sum(c2) OVER (PARTITION BY t ORDER BY value
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0::HUGEINT) AS below2
      FROM split
    ),
    u AS (
      SELECT t,
             CAST(sum(c1) AS HUGEINT) AS n1,
             CAST(sum(c2) AS HUGEINT) AS n2,
             CAST(sum(c1 * (2 * below2 + c2)) AS HUGEINT) AS u2
      FROM cum GROUP BY t
    )
    SELECT t AS event_type,
           CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(u2 AS BIGINT) AS u_doubled,
           CAST(CASE WHEN n1 * n2 = 0 THEN NULL
                WHEN n1 * n2 - u2 >= 0
                  THEN ((n1 * n2 - u2) * 1000000) // (n1 * n2)
                ELSE -((-(n1 * n2 - u2) * 1000000) // (n1 * n2))
                END AS BIGINT) AS rank_biserial_micro
    FROM u ORDER BY event_type
    """,
)
def q_rank_biserial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X340 — rank-biserial r per event type (its values vs all other
    types'): r = 1 − 2U/(n₁n₂) = (n₁n₂ − 2U)/(n₁n₂), the [−1,1]
    effect size behind X292's U and X307's p-values — what you report
    when "significant" isn't the question but "how big" is.

    Exactness: U is assembled from value-grouped integer counts (wins
    + half-ties via the doubled form — no midranks, no floats); the
    one-vs-rest split reuses the X307 per-type pattern; r is a
    sign-corrected truncated micro div. Scale shape: the fact table
    reduces to (type, value) counts ONCE (map-side combined); the
    per-type cumulative runs over the distinct-value grid PARTITIONED
    BY type. Output is #types rows."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    vc = ev.groupBy("event_type", "value").agg(
        F.count(F.lit(1)).alias("c")
    )
    types = vc.select(
        F.col("event_type").alias("t")
    ).distinct()
    split = (
        vc.crossJoin(F.broadcast(types))
        .groupBy("t", "value")
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN event_type = t THEN c ELSE 0 END"
                )
            )
            .cast("decimal(38,0)")
            .alias("c1"),
            F.sum(
                F.expr(
                    "CASE WHEN event_type <> t THEN c ELSE 0 END"
                )
            )
            .cast("decimal(38,0)")
            .alias("c2"),
        )
    )
    w = (
        W.partitionBy("t")
        .orderBy("value")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cum = split.withColumn(
        "below2",
        F.coalesce(
            F.sum("c2").over(w), F.lit(0).cast("decimal(38,0)")
        ),
    )
    u = cum.groupBy("t").agg(
        F.sum("c1").cast("decimal(38,0)").alias("n1"),
        F.sum("c2").cast("decimal(38,0)").alias("n2"),
        F.sum(F.expr("c1 * (2 * below2 + c2)"))
        .cast("decimal(38,0)")
        .alias("u2"),
    )
    return u.select(
        F.col("t").alias("event_type"),
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.col("u2").cast("long").alias("u_doubled"),
        F.expr(
            "CAST(CASE WHEN n1 * n2 = 0 THEN NULL"
            " WHEN n1 * n2 - u2 >= 0"
            "   THEN ((n1 * n2 - u2) * 1000000) div (n1 * n2)"
            " ELSE -((-(n1 * n2 - u2) * 1000000) div (n1 * n2))"
            " END AS BIGINT)"
        ).alias("rank_biserial_micro"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# X341 — Gumbel extreme-value fit on weekly block maxima of daily
# revenue: method-of-moments (β = s·√6/π, μ = m − γ·β) plus the
# 52-block return level — the capacity-planning tail estimate
# ("what's the worst week a year brings?") that a mean+std report
# structurally understates.
# --------------------------------------------------------------------------
@query(
    "q_gumbel_maxima",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(sum(CAST(round(value * 100, 0) AS HUGEINT))
                  AS HUGEINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    blocks AS (
      SELECT event_type,
             (CAST(d AS DATE) - DATE '2024-01-01') // 7 AS wk,
             CAST(max(cents) AS BIGINT) AS block_max
      FROM daily GROUP BY 1, 2
    ),
    mom AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_blocks,
             avg(CAST(block_max AS DOUBLE)) AS m,
             sum(CAST(block_max AS DOUBLE) * block_max) AS q,
             sum(CAST(block_max AS DOUBLE)) AS s
      FROM blocks GROUP BY 1
    ),
    fit AS (
      SELECT event_type, n_blocks, m,
             sqrt((q - s * s / n_blocks)
                  / CAST(n_blocks - 1 AS DOUBLE))
               * sqrt(6.0) / pi() AS beta
      FROM mom WHERE n_blocks >= 2
    )
    SELECT event_type, n_blocks,
           round(m, 6) AS mean_max,
           round(beta, 6) AS beta,
           round(m - 0.5772156649015329 * beta, 6) AS mu,
           round((m - 0.5772156649015329 * beta)
                 + beta * 3.9415503865226063, 6)
             AS return_level_52
    FROM fit ORDER BY event_type
    """,
)
def q_gumbel_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X341 — Gumbel MoM fit per event type over weekly maxima of
    daily revenue; return_level_52 = μ − β·ln(−ln(1−1/52)).

    Exactness: daily cents and block maxima are exact integers; the
    moment expressions (avg, Σx², the sample-variance rearrangement
    q − s²/n) are identical-input double arithmetic on those
    integers, behind 6-dp rounds (the X284 Holt-Winters discipline);
    the Gumbel variate −ln(−ln(1−1/52)) is inlined as one shared
    literal (3.9415503865226063) because JVM and libm ln differ in
    last ulps and β amplifies them past the 6-dp round (caught by the
    3-SF sweep); types with a single block are excluded (variance
    undefined) on both engines. Scale shape: fact → daily rollup → weekly block
    max → type-sized fit; all aggregates map-side combined. Output
    ≤ #types rows."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(
        F.sum(F.expr("CAST(round(value * 100, 0) AS DECIMAL(38,0))"))
        .cast("decimal(38,0)")
        .alias("cents")
    )
    blocks = daily.groupBy(
        "event_type",
        F.expr("CAST((CASE WHEN datediff(d, DATE '2024-01-01') >= 0 THEN datediff(d, DATE '2024-01-01') div 7 ELSE -((6 - datediff(d, DATE '2024-01-01')) div 7) END) AS BIGINT)").alias(
            "wk"
        ),
    ).agg(F.max("cents").cast("long").alias("block_max"))
    mom = blocks.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.avg(F.col("block_max").cast("double")).alias("m"),
        F.sum(
            F.col("block_max").cast("double") * F.col("block_max")
        ).alias("q"),
        F.sum(F.col("block_max").cast("double")).alias("s"),
    )
    fit = mom.filter(F.col("n_blocks") >= 2).withColumn(
        "beta",
        F.expr(
            "sqrt((q - s * s / n_blocks)"
            " / CAST(n_blocks - 1 AS DOUBLE)) * sqrt(6.0) / pi()"
        ),
    )
    return fit.select(
        "event_type",
        "n_blocks",
        F.round("m", 6).alias("mean_max"),
        F.round("beta", 6).alias("beta"),
        F.round(
            F.expr("m - 0.5772156649015329 * beta"), 6
        ).alias("mu"),
        F.round(
            F.expr(
                "(m - 0.5772156649015329 * beta)"
                " + beta * 3.9415503865226063"
            ),
            6,
        ).alias("return_level_52"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# X345 — Simpson's-paradox audit: the mean-spend gap between user
# cohorts (even vs odd user id) OVERALL vs within every event-type
# stratum — exact cross-multiplied integer sign comparisons, flagging
# strata whose direction contradicts the aggregate (the audit that
# should run before ANY cohort-level metric ships; a reversal means
# the mix, not the cohort, drives the headline number).
# --------------------------------------------------------------------------
@query(
    "q_simpson_audit",
    oracle="""
    WITH base AS (
      SELECT CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS cohort,
             event_type,
             CAST(round(value * 100, 0) AS HUGEINT) AS cents
      FROM events
    ),
    strata AS (
      SELECT event_type AS stratum,
             CAST(count(*) FILTER (cohort = 'a') AS HUGEINT) AS n_a,
             CAST(sum(cents) FILTER (cohort = 'a') AS HUGEINT) AS s_a,
             CAST(count(*) FILTER (cohort = 'b') AS HUGEINT) AS n_b,
             CAST(sum(cents) FILTER (cohort = 'b') AS HUGEINT) AS s_b
      FROM base GROUP BY 1
    ),
    overall AS (
      SELECT 'OVERALL' AS stratum,
             CAST(sum(n_a) AS HUGEINT) AS n_a,
             CAST(sum(s_a) AS HUGEINT) AS s_a,
             CAST(sum(n_b) AS HUGEINT) AS n_b,
             CAST(sum(s_b) AS HUGEINT) AS s_b
      FROM strata
    ),
    both_r AS (
      SELECT * FROM strata UNION ALL SELECT * FROM overall
    ),
    ov AS (SELECT s_a * n_b > s_b * n_a AS overall_a_gt FROM overall)
    SELECT stratum,
           CAST(n_a AS BIGINT) AS n_a,
           CAST(s_a AS BIGINT) AS sum_a_cents,
           CAST(n_b AS BIGINT) AS n_b,
           CAST(s_b AS BIGINT) AS sum_b_cents,
           s_a * n_b > s_b * n_a AS a_gt_b,
           (s_a * n_b > s_b * n_a) <> overall_a_gt AS reversed
    FROM both_r CROSS JOIN ov
    ORDER BY stratum
    """,
)
def q_simpson_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X345 — per-stratum vs aggregate direction of the cohort mean
    gap: `a_gt_b` is the EXACT cross-multiplied comparison
    s_a·n_b > s_b·n_a (no mean ever divides), `reversed` marks
    Simpson strata.

    Exactness: cent sums and counts are integers; every comparison is
    a DECIMAL(38) product inequality — the verdict cannot flip on FP.
    Scale shape: one fact-sized (stratum × cohort) counting aggregate
    (FILTER folds the cohorts into one pass); the overall row is the
    strata rollup; output is #types + 1 rows."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.expr(
            "CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END"
        ).alias("cohort"),
        F.col("event_type").alias("stratum"),
        F.expr("CAST(round(value * 100, 0) AS DECIMAL(38,0))").alias(
            "cents"
        ),
    )
    strata = base.groupBy("stratum").agg(
        F.count(F.when(F.col("cohort") == "a", 1))
        .cast("decimal(38,0)")
        .alias("n_a"),
        F.sum(F.when(F.col("cohort") == "a", F.col("cents")))
        .cast("decimal(38,0)")
        .alias("s_a"),
        F.count(F.when(F.col("cohort") == "b", 1))
        .cast("decimal(38,0)")
        .alias("n_b"),
        F.sum(F.when(F.col("cohort") == "b", F.col("cents")))
        .cast("decimal(38,0)")
        .alias("s_b"),
    )
    overall = strata.agg(
        F.sum("n_a").cast("decimal(38,0)").alias("n_a"),
        F.sum("s_a").cast("decimal(38,0)").alias("s_a"),
        F.sum("n_b").cast("decimal(38,0)").alias("n_b"),
        F.sum("s_b").cast("decimal(38,0)").alias("s_b"),
    ).select(F.lit("OVERALL").alias("stratum"), "n_a", "s_a", "n_b", "s_b")
    both = strata.unionByName(overall)
    ov = overall.select(
        F.expr("s_a * n_b > s_b * n_a").alias("overall_a_gt")
    )
    return (
        both.crossJoin(F.broadcast(ov))
        .select(
            "stratum",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("s_a").cast("long").alias("sum_a_cents"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("s_b").cast("long").alias("sum_b_cents"),
            F.expr("s_a * n_b > s_b * n_a").alias("a_gt_b"),
            F.expr(
                "(s_a * n_b > s_b * n_a) <> overall_a_gt"
            ).alias("reversed"),
        )
        .orderBy("stratum")
    )


# --------------------------------------------------------------------------
# X346 — SPRT sequential test of the purchase rate, replayed over the
# event calendar: daily cumulative log-likelihood ratio for
# H1: p = 0.3 vs H0: p = 0.2, Wald boundaries ±ln(19) (α = β = 0.05).
# The batch replay of the decision a streaming experimenter would
# make — including WHEN the test would have stopped.
# --------------------------------------------------------------------------
_SPRT_L1 = 0.4054651081081644   # ln(0.3/0.2)
_SPRT_L0 = -0.13353139262452263  # ln(0.7/0.8)
_SPRT_BOUND = 2.9444389791664403  # ln(19)


@query(
    "q_sprt_sequential",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT)
               AS s
      FROM events GROUP BY 1
    ),
    cum AS (
      SELECT d, n, s,
             sum(n) OVER w AS n_cum,
             sum(s) OVER w AS s_cum
      FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ),
    llr AS (
      SELECT d, CAST(n_cum AS BIGINT) AS n_cum,
             CAST(s_cum AS BIGINT) AS s_cum,
             round(s_cum * CAST({_SPRT_L1} AS DOUBLE)
                   + (n_cum - s_cum) * CAST({_SPRT_L0} AS DOUBLE), 6)
               AS llr
      FROM cum
    )
    SELECT d, n_cum, s_cum, llr,
           CASE WHEN llr >= CAST({_SPRT_BOUND} AS DOUBLE)
                  THEN 'accept_h1'
                WHEN llr <= -CAST({_SPRT_BOUND} AS DOUBLE)
                  THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM llr ORDER BY d
    """,
)
def q_sprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X346 — Wald SPRT replay on the daily purchase-rate stream:
    LLR_d = s·ln(p₁/p₀) + (n−s)·ln((1−p₁)/(1−p₀)) over cumulative
    counts; decision vs ±ln 19.

    Exactness: cumulative counts are integers; the LLR is a
    two-literal linear form (the ln constants are SHARED literals —
    the X341 lesson: JVM vs libm ln differ in final ulps and n_cum
    amplifies them); decisions compare the 6-dp-rounded LLR against a
    literal bound. Scale shape: fact → daily rollup → calendar-sized
    cumulative window (single ORDER BY over ~30 rows; a real
    deployment partitions by experiment id). Sort calendar-bounded."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("long")
        .alias("s"),
    )
    w = W.orderBy("d").rowsBetween(W.unboundedPreceding, 0)
    cum = daily.select(
        "d",
        F.sum("n").over(w).cast("long").alias("n_cum"),
        F.sum("s").over(w).cast("long").alias("s_cum"),
    )
    llr = cum.withColumn(
        "llr",
        F.round(
            F.expr(
                f"s_cum * CAST({_SPRT_L1} AS DOUBLE)"
                f" + (n_cum - s_cum) * CAST({_SPRT_L0} AS DOUBLE)"
            ),
            6,
        ),
    )
    return llr.select(
        "d",
        "n_cum",
        "s_cum",
        "llr",
        F.expr(
            f"CASE WHEN llr >= CAST({_SPRT_BOUND} AS DOUBLE)"
            f" THEN 'accept_h1'"
            f" WHEN llr <= -CAST({_SPRT_BOUND} AS DOUBLE)"
            f" THEN 'accept_h0'"
            f" ELSE 'continue' END"
        ).alias("decision"),
    ).orderBy("d")


# --------------------------------------------------------------------------
# X347 — quantile normalization of per-source document lengths onto
# the pooled corpus distribution: each doc's within-source rank maps
# to the pooled order statistic at the same quantile (the
# batch-effect correction for "source A writes long, source B writes
# short" before any length-sensitive curation gate). Mapping is the
# exact integer position (r·N + n_s − 1) div n_s — no interpolation.
# --------------------------------------------------------------------------
@query(
    "q_quantile_normalize",
    oracle="""
    WITH pooled AS (
      SELECT n_chars AS v,
             row_number() OVER (ORDER BY n_chars, doc_id) AS pos,
             count(*) OVER () AS n
      FROM documents
    ),
    within AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS r,
             count(*) OVER (PARTITION BY source) AS ns
      FROM documents
    ),
    mapped AS (
      SELECT w.doc_id, w.source, w.n_chars,
             p.v AS mapped_chars
      FROM within w
      JOIN pooled p
        ON p.pos = (w.r * (SELECT max(n) FROM pooled) + w.ns - 1) // w.ns
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_before,
           CAST(sum(mapped_chars) AS BIGINT) AS sum_after,
           CAST(sum(n_chars) * 1000 // count(*) AS BIGINT)
             AS mean_before_milli,
           CAST(sum(mapped_chars) * 1000 // count(*) AS BIGINT)
             AS mean_after_milli
    FROM mapped GROUP BY source ORDER BY source
    """,
)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X347 — per-source quantile normalization of doc length onto
    the pooled distribution, summarized per source (before/after
    means in exact milli units).

    Exactness: both rank assignments come from TOTAL orders
    ((n_chars, doc_id)); the quantile map is the ceil-by-integers
    position (r·N + nₛ − 1) div nₛ; sums and means are integer.
    Scale shape: the pooled rank uses the two-level ranked-prefix
    machinery (repartitionByRange + partitioned windows — no global
    row_number); the within-source rank is a PARTITIONED window (the
    source is the analysis unit); the map is one doc-sized equi-join
    on pos. Output is source-sized."""
    from pyspark.sql.window import Window as W

    from mysql_cdc_to_http_spark.operators.sampling import (
        ranked_prefix_sums,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    ones = docs.withColumn("__one", F.lit(1).cast("bigint"))
    pooled = ranked_prefix_sums(
        ones, [F.col("n_chars").asc(), F.col("doc_id").asc()], ["__one"]
    ).select(
        F.col("n_chars").alias("v"), F.col("__one__cum").alias("pos")
    )
    ntot = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    within = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number()
        .over(W.partitionBy("source").orderBy("n_chars", "doc_id"))
        .alias("r"),
        F.count(F.lit(1))
        .over(W.partitionBy("source"))
        .alias("ns"),
    )
    mapped = (
        within.crossJoin(F.broadcast(ntot))
        .withColumn("pos", F.expr("(r * n + ns - 1) div ns"))
        .join(pooled, "pos")
    )
    return (
        mapped.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_before"),
            F.sum("v").cast("long").alias("sum_after"),
            F.expr(
                "CAST(sum(n_chars) * 1000 div count(*) AS BIGINT)"
            ).alias("mean_before_milli"),
            F.expr(
                "CAST(sum(v) * 1000 div count(*) AS BIGINT)"
            ).alias("mean_after_milli"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# X349 — propensity / positivity overlap: the histogram overlap
# coefficient OVL = Σ_bins min(p_a, p_b) between the two user-parity
# cohorts' value distributions — the positivity check a causal
# analysis (X309 CUPED, X320 QTE) must pass before comparing cohorts
# at all (OVL near 0 means the cohorts never see the same conditions
# and no adjustment can save the comparison). min of shares is the
# cross-multiplied integer min — no fractional share materializes.
# --------------------------------------------------------------------------
@query(
    "q_propensity_overlap",
    oracle="""
    WITH base AS (
      SELECT CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS cohort,
             least(greatest(CAST(floor(value / 25.0) AS INT), 0), 19)
               AS bin
      FROM events
    ),
    cells AS (
      SELECT bin,
             CAST(count(*) FILTER (cohort = 'a') AS HUGEINT) AS ca,
             CAST(count(*) FILTER (cohort = 'b') AS HUGEINT) AS cb
      FROM base GROUP BY bin
    ),
    tots AS (
      SELECT CAST(sum(ca) AS HUGEINT) AS na,
             CAST(sum(cb) AS HUGEINT) AS nb
      FROM cells
    )
    SELECT CAST(bin AS INT) AS bin,
           CAST(ca AS BIGINT) AS cnt_a, CAST(cb AS BIGINT) AS cnt_b,
           CAST(least(ca * nb, cb * na) * 1000000 // (na * nb)
                AS BIGINT) AS min_share_micro,
           CAST(sum(least(ca * nb, cb * na) * 1000000 // (na * nb))
                OVER () AS BIGINT) AS ovl_micro
    FROM cells CROSS JOIN tots
    ORDER BY bin
    """,
)
def q_propensity_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X349 — overlap coefficient between the cohorts' value
    histograms (20 bins over [0, 500), edge-clamped): per-bin
    min(p_a, p_b) in exact micro units + the OVL total.

    Exactness: min of two shares via the cross-multiplied integer
    form min(c_a·n_b, c_b·n_a)/(n_a·n_b) — the X335 threshold
    discipline; each bin's term is one truncated micro div; the OVL
    window sums bin-count-sized rows. Scale shape: one fact-sized
    (bin × cohort) counting aggregate (FILTER-folded), then 20-row
    arithmetic. Presentation sort grid-bounded (class a)."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.expr(
            "CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END"
        ).alias("cohort"),
        F.expr(
            "least(greatest(CAST(floor(value / 25.0) AS INT), 0), 19)"
        ).alias("bin"),
    )
    cells = base.groupBy("bin").agg(
        F.count(F.when(F.col("cohort") == "a", 1))
        .cast("decimal(38,0)")
        .alias("ca"),
        F.count(F.when(F.col("cohort") == "b", 1))
        .cast("decimal(38,0)")
        .alias("cb"),
    )
    tots = cells.agg(
        F.sum("ca").cast("decimal(38,0)").alias("na"),
        F.sum("cb").cast("decimal(38,0)").alias("nb"),
    )
    j = cells.crossJoin(F.broadcast(tots)).withColumn(
        "min_share_micro",
        F.expr(
            "CAST(least(ca * nb, cb * na) * 1000000 div (na * nb)"
            " AS BIGINT)"
        ),
    )
    return j.select(
        F.col("bin").cast("int").alias("bin"),
        F.col("ca").cast("long").alias("cnt_a"),
        F.col("cb").cast("long").alias("cnt_b"),
        "min_share_micro",
        F.sum("min_share_micro")
        .over(W.partitionBy())
        .cast("long")
        .alias("ovl_micro"),
    ).orderBy("bin")


# --------------------------------------------------------------------------
# X350 — one-way random-effects ICC(1,1) of document length within
# language groups: how much of length variance is BETWEEN languages?
# Built from the X312 ANOVA moment machinery (SSB/SSW from group
# sums), with the unequal-group-size n₀ correction. The
# reliability/clustering-strength companion to the F test.
# --------------------------------------------------------------------------
@query(
    "q_icc",
    oracle="""
    WITH g AS (
      SELECT lang,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(n_chars) AS HUGEINT) AS s,
             CAST(sum(CAST(n_chars AS HUGEINT) * n_chars) AS HUGEINT)
               AS q
      FROM documents GROUP BY lang
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS HUGEINT) AS nt,
             CAST(sum(s) AS HUGEINT) AS st,
             CAST(sum(q) AS HUGEINT) AS qt,
             sum(CAST(s AS DOUBLE) * s / n) AS ssb_part,
             sum(CAST(n AS DOUBLE) * n) AS sum_n2
      FROM g
    ),
    ms AS (
      SELECT k, CAST(nt AS BIGINT) AS n_total,
             (ssb_part - CAST(st AS DOUBLE) * st / nt)
               / (k - 1) AS msb,
             (CAST(qt AS DOUBLE) - ssb_part)
               / (CAST(nt AS BIGINT) - k) AS msw,
             (CAST(nt AS DOUBLE) - sum_n2 / CAST(nt AS DOUBLE))
               / (k - 1) AS n0
      FROM tot WHERE k >= 2 AND nt > k
    )
    SELECT k AS n_groups, n_total,
           round(msb, 6) AS ms_between,
           round(msw, 6) AS ms_within,
           round(n0, 6) AS n0,
           round((msb - msw) / (msb + (n0 - 1) * msw), 6) AS icc
    FROM ms
    """,
)
def q_icc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X350 — ICC(1,1) with the unequal-group n₀ correction:
    ICC = (MSB − MSW)/(MSB + (n₀−1)·MSW), n₀ = (N − Σn²/N)/(k−1).

    Exactness: all sums/squares are exact integers (the X312
    discipline); MSB/MSW/n₀ are identical-input double expressions
    behind 6-dp rounds, and the ICC is a ratio of those same doubles
    rounded once at the end (one expression tree, both engines).
    Scale shape: one fact-sized groupBy(lang) with map-side partials;
    everything after runs on k rows. Output is 1 row."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("n_chars").cast("decimal(38,0)").alias("s"),
        F.sum(F.expr("CAST(n_chars AS DECIMAL(38,0)) * n_chars"))
        .cast("decimal(38,0)")
        .alias("q"),
    )
    tot = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("decimal(38,0)").alias("nt"),
        F.sum("s").cast("decimal(38,0)").alias("st"),
        F.sum("q").cast("decimal(38,0)").alias("qt"),
        F.sum(F.expr("CAST(s AS DOUBLE) * s / n")).alias("ssb_part"),
        F.sum(F.expr("CAST(n AS DOUBLE) * n")).alias("sum_n2"),
    )
    ms = tot.filter(
        (F.col("k") >= 2) & (F.col("nt") > F.col("k"))
    ).select(
        "k",
        F.col("nt").cast("long").alias("n_total"),
        F.expr(
            "(ssb_part - CAST(st AS DOUBLE) * st / nt) / (k - 1)"
        ).alias("msb"),
        F.expr(
            "(CAST(qt AS DOUBLE) - ssb_part)"
            " / (CAST(nt AS BIGINT) - k)"
        ).alias("msw"),
        F.expr(
            "(CAST(nt AS DOUBLE) - sum_n2 / CAST(nt AS DOUBLE))"
            " / (k - 1)"
        ).alias("n0"),
    )
    return ms.select(
        F.col("k").alias("n_groups"),
        "n_total",
        F.round("msb", 6).alias("ms_between"),
        F.round("msw", 6).alias("ms_within"),
        F.round("n0", 6).alias("n0"),
        F.round(
            F.expr("(msb - msw) / (msb + (n0 - 1) * msw)"), 6
        ).alias("icc"),
    )


# --------------------------------------------------------------------------
# X351 — Mann–Kendall trend test on the daily revenue series: the
# nonparametric significance companion to X304's Theil–Sen slope.
# S = Σ_{i<j} sign(x_j − x_i) over the daily series, tie-corrected
# variance, z with the ±1 continuity correction. The daily series is
# calendar-sized, so the pair set is bounded (the X311 adjudication).
# --------------------------------------------------------------------------
@query(
    "q_mann_kendall",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(sum(CAST(round(value * 100, 0) AS HUGEINT))
                  AS HUGEINT) AS cents
      FROM events GROUP BY 1
    ),
    pairs AS (
      SELECT CASE WHEN b.cents > a.cents THEN 1
                  WHEN b.cents < a.cents THEN -1 ELSE 0 END AS sgn
      FROM daily a JOIN daily b ON b.d > a.d
    ),
    s AS (SELECT CAST(sum(sgn) AS BIGINT) AS s_stat,
                 (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n
          FROM pairs),
    ties AS (
      SELECT COALESCE(CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT),
                      0) AS tie_term
      FROM (SELECT CAST(count(*) AS HUGEINT) AS t FROM daily
            GROUP BY cents HAVING count(*) > 1)
    )
    SELECT n, s_stat,
           CAST((n * (n - 1) * (2 * n + 5) - tie_term) AS BIGINT)
             AS var18_scaled,
           round(CASE WHEN n * (n - 1) * (2 * n + 5) - tie_term > 0
                 THEN (CASE WHEN s_stat > 0 THEN s_stat - 1
                            WHEN s_stat < 0 THEN s_stat + 1
                            ELSE 0 END)
                      / sqrt((n * (n - 1.0) * (2 * n + 5) - tie_term)
                             / 18.0) END, 6) AS z,
           CASE WHEN n * (n - 1) * (2 * n + 5) - tie_term > 0 THEN
                abs(round((CASE WHEN s_stat > 0 THEN s_stat - 1
                           WHEN s_stat < 0 THEN s_stat + 1 ELSE 0 END)
                    / sqrt((n * (n - 1.0) * (2 * n + 5) - tie_term)
                           / 18.0), 6)) > 1.959964
                ELSE FALSE END AS trending
    FROM s CROSS JOIN ties
    """,
)
def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X351 — Mann–Kendall S + tie-corrected z on daily revenue:
    Var(S) = (n(n−1)(2n+5) − Σt(t−1)(2t+5))/18, z with the standard
    continuity correction, 5% two-sided gate at 1.959964.

    Exactness: S and the 18-scaled variance are exact integers; z is
    one identical-input double expression behind the 6-dp round, and
    the gate compares the ROUNDED z (X334 discipline). Scale shape:
    the fact table reduces to the daily rollup first; the pair join
    runs on the calendar-sized series (the X311 tau adjudication —
    bounded by days², not facts). Output is 1 row."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.expr("CAST(round(value * 100, 0) AS DECIMAL(38,0))"))
        .cast("decimal(38,0)")
        .alias("cents")
    )
    a = daily.select(
        F.col("d").alias("da"), F.col("cents").alias("ca")
    )
    b = daily.select(
        F.col("d").alias("db"), F.col("cents").alias("cb")
    )
    pairs = a.join(b, F.col("db") > F.col("da")).select(
        F.expr(
            "CASE WHEN cb > ca THEN 1 WHEN cb < ca THEN -1 ELSE 0 END"
        ).alias("sgn")
    )
    s = pairs.agg(F.sum("sgn").cast("long").alias("s_stat")).crossJoin(
        F.broadcast(
            daily.agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
    )
    ties = (
        daily.groupBy("cents")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.expr("t * (t - 1) * (2 * t + 5)")).cast("long"),
                F.lit(0),
            ).alias("tie_term")
        )
    )
    out = s.crossJoin(F.broadcast(ties))
    zexpr = (
        "(CASE WHEN s_stat > 0 THEN s_stat - 1"
        " WHEN s_stat < 0 THEN s_stat + 1 ELSE 0 END)"
        " / sqrt((n * (n - 1.0) * (2 * n + 5) - tie_term) / 18.0)"
    )
    return out.select(
        "n",
        "s_stat",
        F.expr(
            "CAST((n * (n - 1) * (2 * n + 5) - tie_term) AS BIGINT)"
        ).alias("var18_scaled"),
        F.round(
            F.expr(
                f"CASE WHEN n * (n - 1) * (2 * n + 5) - tie_term > 0"
                f" THEN {zexpr} END"
            ),
            6,
        ).alias("z"),
        F.expr(
            f"CASE WHEN n * (n - 1) * (2 * n + 5) - tie_term > 0 THEN"
            f" abs(round({zexpr}, 6)) > 1.959964 ELSE FALSE END"
        ).alias("trending"),
    )


# --------------------------------------------------------------------------
# X352 — delete-one jackknife variance of the per-priority revenue
# RATIO (mean order value = Σcents/n): leave-one-out replicate values
# R₍ᵢ₎ = (S − xᵢ)/(n − 1) computed in closed form from the group sums
# (never materializing n copies — the jackknife that works at 100 TB),
# quantized to exact integer micro BEFORE the replicate moments so
# the fact-sized sum is integer, not order-dependent FP.
# --------------------------------------------------------------------------
@query(
    "q_jackknife_ratio",
    oracle="""
    WITH o AS (
      SELECT o_orderpriority AS priority,
             CAST(round(o_totalprice * 100, 0) AS HUGEINT) AS cents
      FROM orders
    ),
    g AS (
      SELECT priority,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(cents) AS HUGEINT) AS s
      FROM o GROUP BY 1
    ),
    reps AS (
      SELECT o.priority, g.n, g.s,
             (g.s - o.cents) * 10000 // (g.n - 1) AS r_micro
      FROM o JOIN g USING (priority)
      WHERE g.n >= 2
    ),
    mom AS (
      SELECT priority,
             CAST(max(n) AS BIGINT) AS n_orders,
             CAST(max(s) * 10000 // max(n) AS BIGINT) AS point_micro,
             CAST(count(*) AS HUGEINT) AS nr,
             CAST(sum(r_micro) AS HUGEINT) AS sr,
             CAST(sum(r_micro * r_micro) AS HUGEINT) AS qr
      FROM reps GROUP BY priority
    )
    SELECT priority, n_orders, point_micro,
           CAST(floor(sqrt(CAST((nr * qr - sr * sr) AS DOUBLE)
                      * CAST(nr - 1 AS DOUBLE) / CAST(nr AS DOUBLE)
                      / CAST(nr AS DOUBLE))) AS BIGINT)
             AS jack_se_micro
    FROM mom ORDER BY priority
    """,
)
def q_jackknife_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X352 — closed-form delete-1 jackknife SE of mean order value
    per priority: var_jack = (n−1)/n · Σ(R₍ᵢ₎ − R̄)², with replicates
    quantized to integer micro BEFORE the moment sums (the X340
    doubled-U lesson applied to FP: a fact-sized double sum is
    partitioning-dependent; an integer sum is not).

    Exactness: R₍ᵢ₎ micro is a truncated integer div per row; the
    replicate moments use the n·Σx² − (Σx)² integer identity (X337);
    only the final sqrt is floating, presented as floor(sqrt(...))
    to integer micro — NOT a 6-dp round. Floor near an integer
    boundary is the X241-risky presentation in general, but here the
    radicand is a ratio of exact DECIMAL(38) integer moments cast to
    DOUBLE identically on both engines, so both sides floor the SAME
    double; and at the SE's ~1e9-micro magnitude a 6-dp round would
    demand 16 significant digits — beyond double — which is exactly
    why floor-of-identical-double is the correct idiom here. Scale
    shape: one group-sums aggregate, one broadcast-join projection
    over the facts, one moment aggregate — no per-replicate
    materialization ever. Output is #priorities rows."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.expr("CAST(round(o_totalprice * 100, 0) AS DECIMAL(38,0))").alias(
            "cents"
        ),
    )
    g = o.groupBy("priority").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("cents").cast("decimal(38,0)").alias("s"),
    )
    reps = (
        o.join(F.broadcast(g), "priority")
        .filter(F.col("n") >= 2)
        .select(
            "priority",
            "n",
            "s",
            F.expr(
                "CAST((s - cents) * 10000 div (n - 1)"
                " AS DECIMAL(38,0))"
            ).alias("r_micro"),
        )
    )
    mom = reps.groupBy("priority").agg(
        F.max("n").cast("long").alias("n_orders"),
        F.expr("CAST(max(s) * 10000 div max(n) AS BIGINT)").alias(
            "point_micro"
        ),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("nr"),
        F.sum("r_micro").cast("decimal(38,0)").alias("sr"),
        F.sum(
            F.expr(
                "CAST(r_micro AS DECIMAL(38,0))"
                " * CAST(r_micro AS DECIMAL(38,0))"
            )
        )
        .cast("decimal(38,0)")
        .alias("qr"),
    )
    return mom.select(
        "priority",
        "n_orders",
        "point_micro",
        F.expr(
            "CAST(floor(sqrt(CAST(nr * qr - sr * sr AS DOUBLE)"
            " * CAST(nr - 1 AS DOUBLE) / CAST(nr AS DOUBLE)"
            " / CAST(nr AS DOUBLE))) AS BIGINT)"
        ).alias("jack_se_micro"),
    ).orderBy("priority")


# --------------------------------------------------------------------------
# X354 — decile Lorenz curve of per-customer revenue: the curve
# behind X133's Gini scalar (cumulative revenue share at each
# population decile, plus the diagonal gap). Deciles come from the
# same two-level ranked prefix sums as the Gini rank — cumulative
# CENTS at the decile boundary over total cents, exact micro.
# --------------------------------------------------------------------------
@query(
    "q_lorenz_curve",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS HUGEINT))
                  AS HUGEINT) AS cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents, o_custkey) AS i,
             sum(cents) OVER (ORDER BY cents, o_custkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             count(*) OVER () AS n,
             sum(cents) OVER () AS tot
      FROM rev
    ),
    deciles AS (SELECT unnest([1,2,3,4,5,6,7,8,9,10]) AS dec),
    pts AS (
      SELECT dec,
             max(CASE WHEN i * 10 <= dec * n THEN cum END) AS cum_at,
             max(n) AS n, max(tot) AS tot
      FROM ranked CROSS JOIN deciles
      GROUP BY dec
    )
    SELECT CAST(dec AS INT) AS decile,
           CAST(COALESCE(cum_at, 0) * 1000000 // tot AS BIGINT)
             AS cum_share_micro,
           CAST(dec * 100000
                - COALESCE(cum_at, 0) * 1000000 // tot AS BIGINT)
             AS gap_micro
    FROM pts ORDER BY decile
    """,
)
def q_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X354 — Lorenz curve at the 10 population deciles: cumulative
    revenue share of the poorest i/10 of customers (exact micro) and
    the gap to the equality diagonal (whose area is the X133 Gini).

    Exactness: the decile membership test is the cross-multiplied
    integer i·10 ≤ d·n (no fractional decile boundary); cumulative
    cents come from a TOTAL order; shares are truncated micro divs.
    Scale shape: rank + cumsum via the engine's two-level ranked
    prefix machinery (operators/sampling.py — repartitionByRange +
    partitioned windows, no single-partition window over the
    row-scaling customer table); the decile reduction is one
    aggregate over a 10-way broadcast cross join. Output is 10 rows.
    """
    from mysql_cdc_to_http_spark.operators.sampling import (
        ranked_prefix_sums,
    )

    # rev (customer-sized) feeds the ranked-prefix pass AND tots — each
    # re-ran the fact aggregate. Persist it: one orders pass (guide §2.4).
    rev = caching.persist(
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.expr(
                    "CAST(round(o_totalprice * 100, 0) AS DECIMAL(38,0))"
                )
            )
            .cast("decimal(38,0)")
            .alias("cents")
        )
        .withColumn("__one", F.lit(1).cast("bigint"))
    )
    ranked = ranked_prefix_sums(
        rev,
        [F.col("cents").asc(), F.col("o_custkey").asc()],
        ["__one", "cents"],
    ).select(
        F.col("__one__cum").alias("i"),
        F.col("cents__cum").alias("cum"),
    )
    tots = rev.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("cents").cast("decimal(38,0)").alias("tot"),
    )
    deciles = rev.sparkSession.createDataFrame(
        [(d,) for d in range(1, 11)], "dec int"
    )
    pts = (
        ranked.crossJoin(F.broadcast(tots))
        .crossJoin(F.broadcast(deciles))
        .groupBy("dec")
        .agg(
            F.max(
                F.when(
                    F.expr("i * 10 <= dec * n"), F.col("cum")
                )
            ).alias("cum_at"),
            F.max("tot").alias("tot"),
        )
    )
    return pts.select(
        F.col("dec").cast("int").alias("decile"),
        F.expr(
            "CAST(COALESCE(cum_at, 0) * 1000000 div tot AS BIGINT)"
        ).alias("cum_share_micro"),
        F.expr(
            "CAST(dec * 100000"
            " - COALESCE(cum_at, 0) * 1000000 div tot AS BIGINT)"
        ).alias("gap_micro"),
    ).orderBy("decile")
