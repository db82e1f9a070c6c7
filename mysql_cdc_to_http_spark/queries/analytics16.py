"""Round-16 additions (X391-X399): the nonparametric-omnibus /
variance-diagnostics tier the X292/X312/X351 test family escalates
into, plus the corpus-diversity and watermark screens of the LLM
curation ladder.

House rules throughout (see analytics15.py): every count/moment/rank
is an exact DECIMAL(38,0)/HUGEINT integer; doubles appear only in
final statistics BUILT from those integers with the same expression
on both engines (sqrt/ln are IEEE-correctly-rounded on identical
inputs); display ratios of integers use integer micro-units
(`x * 1000000 div y`), never float division; significance gates use
shared published critical-value literals (the X341 rule).

Reference scope note: mul14/mysql-cdc-to-http (main.go, 530 LoC) has
no analytics surface — these operators extend SURVEY.md §2.3's
"beyond the reference" ladder, re-expressed Spark-first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mysql_cdc_to_http_spark.catalog import load_table
from mysql_cdc_to_http_spark.operators import caching
from mysql_cdc_to_http_spark.queries.registry import query

# χ²(4) upper 0.05 — shared literal (5 event types → df = 4)
_CHI2_4_05 = 9.487729036781154


# --------------------------------------------------------------------------
# X391 — Kruskal–Wallis H across ALL event types: the k-group
# extension of X292's two-sample Mann–Whitney (same double-rank
# integer idiom), tie-corrected.
# --------------------------------------------------------------------------
@query(
    "q_kruskal_wallis",
    oracle=f"""
    WITH vc AS (
      SELECT value, CAST(count(*) AS HUGEINT) AS c
      FROM events GROUP BY value
    ),
    cum AS (
      SELECT value, c,
             COALESCE(SUM(c) OVER (
               ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS f_prev
      FROM vc
    ),
    tc AS (
      SELECT event_type, value, CAST(count(*) AS HUGEINT) AS tcnt
      FROM events GROUP BY 1, 2
    ),
    pg AS (
      SELECT tc.event_type,
             CAST(SUM(tc.tcnt) AS HUGEINT) AS nt,
             CAST(SUM(tc.tcnt * (2 * cum.f_prev + cum.c + 1))
                  AS HUGEINT) AS r2t
      FROM tc JOIN cum USING (value) GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(c) AS HUGEINT) AS n,
             CAST(SUM(c * c * c - c) AS HUGEINT) AS tie_t
      FROM vc
    ),
    hh AS (
      SELECT (SELECT count(*) FROM pg) AS k, n, tie_t,
             (12.0 / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))
              * (SELECT SUM(CAST(r2t AS DOUBLE) * CAST(r2t AS DOUBLE)
                            / (4.0 * CAST(nt AS DOUBLE))) FROM pg)
              - 3.0 * CAST(n + 1 AS DOUBLE))
             / (1.0 - CAST(tie_t AS DOUBLE)
                      / CAST(n * n * n - n AS DOUBLE)) AS h
      FROM tot
    )
    SELECT CAST(n AS BIGINT) AS n_events,
           CAST(k AS BIGINT) AS k_groups,
           CAST(tie_t AS BIGINT) AS tie_t,
           CAST(round(h * 1000) AS BIGINT) AS h_milli,
           CASE WHEN k = 5 THEN h > {_CHI2_4_05} END AS non_uniform
    FROM hh
    """,
)
def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X391 — tie-corrected Kruskal–Wallis H over event values by
    type: H = [12/(N(N+1)) Σ R_t²/n_t − 3(N+1)] / (1 − ΣT/(N³−N)).

    Exactness: the double-rank idiom of X292 — per-value counts, a
    cumulative window over DISTINCT values (quantization-bounded,
    allowlist class a), and 2×rank-sums per group as exact integers
    R2_t = Σ c_t(2f_prev + c + 1); H combines those integers in one
    identical double expression behind a milli round. The tie term
    Σ(c³−c) stays inside DECIMAL(38) for c up to ~2e12. Significance
    gates on the shared χ²(4) literal, emitted only for the 5-group
    corpus shape (NULL otherwise — mirrored). Scale shape: two
    fact-sized aggregates (map-side combined), a distinct-value
    window, a #types join → 1 row."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    vc = ev.groupBy("value").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("c")
    )
    w = W.orderBy("value").rowsBetween(W.unboundedPreceding, -1)
    cum = vc.select(
        "value",
        "c",
        F.coalesce(
            F.sum("c").over(w), F.lit(0).cast("decimal(38,0)")
        ).alias("f_prev"),
    )
    tc = ev.groupBy("event_type", "value").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("tcnt")
    )
    pg = (
        tc.join(cum, "value")
        .groupBy("event_type")
        .agg(
            F.sum("tcnt").cast("decimal(38,0)").alias("nt"),
            F.sum(
                F.col("tcnt")
                * (F.lit(2) * F.col("f_prev") + F.col("c") + 1)
            )
            .cast("decimal(38,0)")
            .alias("r2t"),
        )
    )
    tot = vc.agg(
        F.sum("c").cast("decimal(38,0)").alias("n"),
        F.sum(F.expr("c * c * c - c"))
        .cast("decimal(38,0)")
        .alias("tie_t"),
    )
    sums = pg.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("k"),
        F.sum(
            F.expr(
                "CAST(r2t AS DOUBLE) * CAST(r2t AS DOUBLE)"
                " / (4.0 * CAST(nt AS DOUBLE))"
            )
        ).alias("sr"),
    )
    hh = tot.crossJoin(F.broadcast(sums)).select(
        "n",
        "k",
        "tie_t",
        F.expr(
            "(12.0 / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)) * sr"
            " - 3.0 * CAST(n + 1 AS DOUBLE))"
            " / (1.0 - CAST(tie_t AS DOUBLE)"
            "          / CAST(n * n * n - n AS DOUBLE))"
        ).alias("h"),
    )
    return hh.select(
        F.col("n").cast("long").alias("n_events"),
        F.col("k").cast("long").alias("k_groups"),
        F.col("tie_t").cast("long").alias("tie_t"),
        F.expr("CAST(round(h * 1000) AS BIGINT)").alias("h_milli"),
        F.expr(
            f"CASE WHEN k = 5 THEN h > {_CHI2_4_05} END"
        ).alias("non_uniform"),
    )


# --------------------------------------------------------------------------
# X392 — Welch's unequal-variance t per event type between the md5
# split-hash cohorts (the A/B frame of X334/X374), with
# Welch–Satterthwaite degrees of freedom.
# --------------------------------------------------------------------------
@query(
    "q_welch_t",
    oracle="""
    WITH base AS (
      SELECT event_type,
             CAST(round(value * 100, 0) AS HUGEINT) AS cents,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
               ::BIGINT % 2 AS cohort
      FROM events
    ),
    g AS (
      SELECT event_type, cohort,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(cents) AS HUGEINT) AS s1,
             CAST(sum(cents * cents) AS HUGEINT) AS s2
      FROM base GROUP BY 1, 2
    ),
    wide AS (
      SELECT a.event_type,
             a.n AS n0, a.s1 AS a1, a.s2 AS a2,
             b.n AS n1, b.s1 AS b1, b.s2 AS b2
      FROM g a JOIN g b
        ON a.event_type = b.event_type
       AND a.cohort = 0 AND b.cohort = 1
      WHERE a.n >= 2 AND b.n >= 2
    ),
    st AS (
      SELECT event_type, n0, n1,
             CAST(b1 AS DOUBLE) / CAST(n1 AS DOUBLE)
               - CAST(a1 AS DOUBLE) / CAST(n0 AS DOUBLE) AS gap,
             (CAST(a2 AS DOUBLE) - CAST(a1 AS DOUBLE)
                * CAST(a1 AS DOUBLE) / CAST(n0 AS DOUBLE))
               / (CAST(n0 AS DOUBLE) - 1.0)
               / CAST(n0 AS DOUBLE) AS va,
             (CAST(b2 AS DOUBLE) - CAST(b1 AS DOUBLE)
                * CAST(b1 AS DOUBLE) / CAST(n1 AS DOUBLE))
               / (CAST(n1 AS DOUBLE) - 1.0)
               / CAST(n1 AS DOUBLE) AS vb
      FROM wide
    )
    SELECT event_type,
           CAST(n0 AS BIGINT) AS n_a, CAST(n1 AS BIGINT) AS n_b,
           CAST(CASE WHEN va + vb > 0 THEN
             round(gap / sqrt(va + vb) * 1000000) END AS BIGINT)
             AS t_micro,
           CAST(CASE WHEN va > 0 AND vb > 0 THEN
             round((va + vb) * (va + vb)
                   / (va * va / (CAST(n0 AS DOUBLE) - 1.0)
                      + vb * vb / (CAST(n1 AS DOUBLE) - 1.0)) * 1000)
             END AS BIGINT) AS df_milli,
           CASE WHEN va + vb > 0 THEN
             abs(gap / sqrt(va + vb)) > 1.959963984540054 END
             AS significant
    FROM st ORDER BY event_type
    """,
)
def q_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X392 — Welch's t (unequal variances) on cohort mean cents per
    type, with Welch–Satterthwaite df: the correct default A/B test
    when cohort variances differ (X351's pooled-t assumption-free
    sibling). Exactness: cohort moments are exact integers; gap,
    va = s²_a/n_a, vb and the t/df formulas are identical-input
    double expressions behind micro/milli rounds; zero-variance
    degenerate cases emit NULL via mirrored guards. Gate literal
    z_0.975 = 1.959963984540054 (X341 rule). Scale shape: one
    fact-sized (type, cohort) aggregate → #types arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.expr("CAST(round(value * 100, 0) AS DECIMAL(38,0))").alias(
            "cents"
        ),
        F.expr(
            "CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 15),"
            " 16, 10) AS BIGINT) % 2"
        ).alias("cohort"),
    )
    g = base.groupBy("event_type", "cohort").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("cents").cast("decimal(38,0)").alias("s1"),
        F.sum(F.expr("cents * cents"))
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    a = g.filter("cohort = 0 AND n >= 2").select(
        "event_type",
        F.col("n").alias("n0"),
        F.col("s1").alias("a1"),
        F.col("s2").alias("a2"),
    )
    b = g.filter("cohort = 1 AND n >= 2").select(
        "event_type",
        F.col("n").alias("n1"),
        F.col("s1").alias("b1"),
        F.col("s2").alias("b2"),
    )
    st = a.join(b, "event_type").select(
        "event_type",
        "n0",
        "n1",
        F.expr(
            "CAST(b1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
            " - CAST(a1 AS DOUBLE) / CAST(n0 AS DOUBLE)"
        ).alias("gap"),
        F.expr(
            "(CAST(a2 AS DOUBLE) - CAST(a1 AS DOUBLE)"
            "   * CAST(a1 AS DOUBLE) / CAST(n0 AS DOUBLE))"
            " / (CAST(n0 AS DOUBLE) - CAST(1.0 AS DOUBLE))"
            " / CAST(n0 AS DOUBLE)"
        ).alias("va"),
        F.expr(
            "(CAST(b2 AS DOUBLE) - CAST(b1 AS DOUBLE)"
            "   * CAST(b1 AS DOUBLE) / CAST(n1 AS DOUBLE))"
            " / (CAST(n1 AS DOUBLE) - CAST(1.0 AS DOUBLE))"
            " / CAST(n1 AS DOUBLE)"
        ).alias("vb"),
    )
    return st.select(
        "event_type",
        F.col("n0").cast("long").alias("n_a"),
        F.col("n1").cast("long").alias("n_b"),
        F.expr(
            "CAST(CASE WHEN va + vb > CAST(0.0 AS DOUBLE) THEN"
            " round(gap / sqrt(va + vb) * 1000000) END AS BIGINT)"
        ).alias("t_micro"),
        F.expr(
            "CAST(CASE WHEN va > CAST(0.0 AS DOUBLE)"
            " AND vb > CAST(0.0 AS DOUBLE) THEN"
            " round((va + vb) * (va + vb)"
            "       / (va * va / (CAST(n0 AS DOUBLE)"
            "                     - CAST(1.0 AS DOUBLE))"
            "          + vb * vb / (CAST(n1 AS DOUBLE)"
            "                       - CAST(1.0 AS DOUBLE))) * 1000)"
            " END AS BIGINT)"
        ).alias("df_milli"),
        F.expr(
            "CASE WHEN va + vb > CAST(0.0 AS DOUBLE) THEN"
            " abs(gap / sqrt(va + vb)) > 1.959963984540054 END"
        ).alias("significant"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# X393 — Bartlett's test of equal variances across event types: the
# formal gate behind X353's Levene/Brown–Forsythe screen (Bartlett is
# the more powerful test when X385's normality check passes).
# --------------------------------------------------------------------------
@query(
    "q_bartlett",
    oracle=f"""
    WITH g AS (
      SELECT event_type,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(CAST(round(value * 100, 0) AS HUGEINT))
                  AS HUGEINT) AS s1,
             CAST(sum(CAST(round(value * 100, 0) AS HUGEINT)
                      * CAST(round(value * 100, 0) AS HUGEINT))
                  AS HUGEINT) AS s2
      FROM events GROUP BY 1 HAVING count(*) >= 2
    ),
    v AS (
      SELECT event_type, n,
             (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
               / (CAST(n AS DOUBLE) - 1.0) AS var
      FROM g
    ),
    agg AS (
      SELECT CAST(count(*) AS HUGEINT) AS k,
             CAST(SUM(n) AS HUGEINT) AS nn,
             SUM((CAST(n AS DOUBLE) - 1.0) * var) AS sv,
             SUM((CAST(n AS DOUBLE) - 1.0) * ln(var)) AS slnv,
             SUM(1.0 / (CAST(n AS DOUBLE) - 1.0)) AS sinv
      FROM v WHERE var > 0
    ),
    st AS (
      SELECT k, nn,
             ((CAST(nn AS DOUBLE) - CAST(k AS DOUBLE))
                * ln(sv / (CAST(nn AS DOUBLE) - CAST(k AS DOUBLE)))
              - slnv)
             / (1.0 + (sinv - 1.0 / (CAST(nn AS DOUBLE)
                                     - CAST(k AS DOUBLE)))
                      / (3.0 * (CAST(k AS DOUBLE) - 1.0))) AS x2
      FROM agg WHERE k >= 2
    )
    SELECT CAST(k AS BIGINT) AS k_groups,
           CAST(nn AS BIGINT) AS n_events,
           CAST(round(x2 * 1000) AS BIGINT) AS bartlett_milli,
           CASE WHEN k = 5 THEN x2 > {_CHI2_4_05} END AS heteroscedastic
    FROM st
    """,
)
def q_bartlett(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X393 — Bartlett's χ² for variance homogeneity:
    X² = [(N−k)·ln(s²_p) − Σ(n_i−1)ln(s²_i)] / C with the standard
    correction C = 1 + (Σ1/(n_i−1) − 1/(N−k)) / (3(k−1)).

    Exactness: per-type moments are exact integers; each variance and
    each ln() is one identical-input double (ln is correctly-rounded
    on identical doubles — the milli-quantized-ln family's argument,
    applied at the statistic level since the ln inputs here are
    ratios of the SAME integer-built doubles on both engines);
    zero-variance groups drop via the mirrored var > 0 guard. Gate on
    the shared χ²(4) literal for the 5-group shape. Scale shape: one
    fact-sized aggregate → #types arithmetic → 1 row."""
    ev = load_table(spark, sf_dir, "events")
    g = (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.sum(
                F.expr("CAST(round(value * 100, 0) AS DECIMAL(38,0))")
            )
            .cast("decimal(38,0)")
            .alias("s1"),
            F.sum(
                F.expr(
                    "CAST(round(value * 100, 0) AS DECIMAL(38,0))"
                    " * CAST(round(value * 100, 0) AS DECIMAL(38,0))"
                )
            )
            .cast("decimal(38,0)")
            .alias("s2"),
        )
        .filter(F.col("n") >= 2)
    )
    v = g.select(
        "event_type",
        "n",
        F.expr(
            "(CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)"
            "   * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
            " / (CAST(n AS DOUBLE) - CAST(1.0 AS DOUBLE))"
        ).alias("var"),
    )
    agg = v.filter(F.col("var") > 0).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("k"),
        F.sum("n").cast("decimal(38,0)").alias("nn"),
        F.sum(
            F.expr("(CAST(n AS DOUBLE) - CAST(1.0 AS DOUBLE)) * var")
        ).alias("sv"),
        F.sum(
            F.expr(
                "(CAST(n AS DOUBLE) - CAST(1.0 AS DOUBLE)) * ln(var)"
            )
        ).alias("slnv"),
        F.sum(
            F.expr(
                "CAST(1.0 AS DOUBLE)"
                " / (CAST(n AS DOUBLE) - CAST(1.0 AS DOUBLE))"
            )
        ).alias("sinv"),
    )
    st = agg.filter(F.col("k") >= 2).select(
        "k",
        "nn",
        F.expr(
            "((CAST(nn AS DOUBLE) - CAST(k AS DOUBLE))"
            "   * ln(sv / (CAST(nn AS DOUBLE) - CAST(k AS DOUBLE)))"
            " - slnv)"
            " / (CAST(1.0 AS DOUBLE)"
            "    + (sinv - CAST(1.0 AS DOUBLE)"
            "              / (CAST(nn AS DOUBLE) - CAST(k AS DOUBLE)))"
            "      / (CAST(3.0 AS DOUBLE)"
            "         * (CAST(k AS DOUBLE) - CAST(1.0 AS DOUBLE))))"
        ).alias("x2"),
    )
    return st.select(
        F.col("k").cast("long").alias("k_groups"),
        F.col("nn").cast("long").alias("n_events"),
        F.expr("CAST(round(x2 * 1000) AS BIGINT)").alias(
            "bartlett_milli"
        ),
        F.expr(
            f"CASE WHEN k = 5 THEN x2 > {_CHI2_4_05} END"
        ).alias("heteroscedastic"),
    )


# --------------------------------------------------------------------------
# X394 — Mood's median test: counts above the grand median per type +
# the 2×k χ² — the crudest-but-assumption-free centrality omnibus
# (X391's H uses full ranks; Mood's survives arbitrary outliers).
# --------------------------------------------------------------------------
@query(
    "q_moods_median",
    oracle=f"""
    WITH base AS (
      SELECT event_type,
             CAST(round(value * 100, 0) AS HUGEINT) AS cents
      FROM events
    ),
    vc AS (
      SELECT cents, CAST(count(*) AS HUGEINT) AS c
      FROM base GROUP BY 1
    ),
    cum AS (
      SELECT cents, c,
             CAST(SUM(c) OVER (ORDER BY cents
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS HUGEINT) AS f,
             CAST(SUM(c) OVER () AS HUGEINT) AS n
      FROM vc
    ),
    med AS (
      SELECT CAST(min(CASE WHEN 2 * f >= n THEN cents END) AS HUGEINT)
               AS m,
             CAST(max(n) AS HUGEINT) AS n
      FROM cum
    ),
    ct AS (
      SELECT base.event_type,
             CAST(count(*) AS HUGEINT) AS nt,
             CAST(count(*) FILTER (cents > m) AS HUGEINT) AS abv
      FROM base, med GROUP BY 1
    ),
    marg AS (
      SELECT CAST(SUM(nt) AS HUGEINT) AS n,
             CAST(SUM(abv) AS HUGEINT) AS aa,
             CAST(count(*) AS HUGEINT) AS k
      FROM ct
    ),
    chi AS (
      SELECT k, n, aa,
             SUM(
               (CAST(abv AS DOUBLE) - CAST(aa AS DOUBLE)
                  * CAST(nt AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(abv AS DOUBLE) - CAST(aa AS DOUBLE)
                  * CAST(nt AS DOUBLE) / CAST(n AS DOUBLE))
               / (CAST(aa AS DOUBLE) * CAST(nt AS DOUBLE)
                  / CAST(n AS DOUBLE))
               + (CAST(nt - abv AS DOUBLE) - CAST(n - aa AS DOUBLE)
                    * CAST(nt AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(nt - abv AS DOUBLE) - CAST(n - aa AS DOUBLE)
                    * CAST(nt AS DOUBLE) / CAST(n AS DOUBLE))
                 / (CAST(n - aa AS DOUBLE) * CAST(nt AS DOUBLE)
                    / CAST(n AS DOUBLE))
             ) AS x2
      FROM ct, marg GROUP BY k, n, aa
    )
    SELECT CAST(n AS BIGINT) AS n_events,
           CAST((SELECT m FROM med) AS BIGINT) AS median_cents,
           CAST(aa AS BIGINT) AS n_above,
           CAST(round(x2 * 1000) AS BIGINT) AS chi2_milli,
           CASE WHEN k = 5 THEN x2 > {_CHI2_4_05} END AS location_shift
    FROM chi
    """,
)
def q_moods_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X394 — Mood's median test: grand median from the exact
    cents-count cumulative (the X374 winsorize-bound idiom: smallest
    cents with 2F(c) ≥ N), per-type above/not-above counts, and the
    2×k Pearson χ² from exact integer margins in one identical
    double expression. Gate on the shared χ²(4) literal for the
    5-group shape. Scale shape: value-domain cumulative window
    (quantization-bounded, class a) + two fact-sized aggregates →
    1 row."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.expr("CAST(round(value * 100, 0) AS DECIMAL(38,0))").alias(
            "cents"
        ),
    )
    vc = base.groupBy("cents").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("c")
    )
    wf = W.orderBy("cents").rowsBetween(W.unboundedPreceding, 0)
    cum = vc.select(
        "cents",
        F.sum("c").over(wf).cast("decimal(38,0)").alias("f"),
    ).crossJoin(
        F.broadcast(
            vc.agg(F.sum("c").cast("decimal(38,0)").alias("n"))
        )
    )
    med = cum.agg(
        F.min(
            F.when(F.expr("2 * f >= n"), F.col("cents"))
        ).alias("m"),
        F.max("n").alias("n"),
    )
    ct = base.crossJoin(F.broadcast(med.select("m"))).groupBy(
        "event_type"
    ).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("nt"),
        F.sum(F.expr("CASE WHEN cents > m THEN 1 ELSE 0 END"))
        .cast("decimal(38,0)")
        .alias("abv"),
    )
    marg = ct.agg(
        F.sum("nt").cast("decimal(38,0)").alias("n"),
        F.sum("abv").cast("decimal(38,0)").alias("aa"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("k"),
    )
    chi = (
        ct.crossJoin(F.broadcast(marg))
        .groupBy("k", "n", "aa")
        .agg(
            F.sum(
                F.expr(
                    "(CAST(abv AS DOUBLE) - CAST(aa AS DOUBLE)"
                    "   * CAST(nt AS DOUBLE) / CAST(n AS DOUBLE))"
                    " * (CAST(abv AS DOUBLE) - CAST(aa AS DOUBLE)"
                    "   * CAST(nt AS DOUBLE) / CAST(n AS DOUBLE))"
                    " / (CAST(aa AS DOUBLE) * CAST(nt AS DOUBLE)"
                    "    / CAST(n AS DOUBLE))"
                    " + (CAST(nt - abv AS DOUBLE)"
                    "    - CAST(n - aa AS DOUBLE)"
                    "      * CAST(nt AS DOUBLE) / CAST(n AS DOUBLE))"
                    "   * (CAST(nt - abv AS DOUBLE)"
                    "      - CAST(n - aa AS DOUBLE)"
                    "        * CAST(nt AS DOUBLE) / CAST(n AS DOUBLE))"
                    "   / (CAST(n - aa AS DOUBLE) * CAST(nt AS DOUBLE)"
                    "      / CAST(n AS DOUBLE))"
                )
            ).alias("x2")
        )
    )
    return chi.crossJoin(F.broadcast(med.select("m"))).select(
        F.col("n").cast("long").alias("n_events"),
        F.col("m").cast("long").alias("median_cents"),
        F.col("aa").cast("long").alias("n_above"),
        F.expr("CAST(round(x2 * 1000) AS BIGINT)").alias("chi2_milli"),
        F.expr(
            f"CASE WHEN k = 5 THEN x2 > {_CHI2_4_05} END"
        ).alias("location_shift"),
    )


# --------------------------------------------------------------------------
# X395 — Bray–Curtis dissimilarity between source token mixes: the
# ecology-standard abundance-overlap distance, pairwise over sources —
# the corpus-mixing audit that X303's per-source JS divergence gives
# against the POOLED mix, here source-vs-source.
# --------------------------------------------------------------------------
@query(
    "q_bray_curtis",
    oracle="""
    WITH terms AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ),
    tc AS (
      SELECT source, term, CAST(count(*) AS HUGEINT) AS c
      FROM terms GROUP BY 1, 2
    ),
    tot AS (
      SELECT source, CAST(SUM(c) AS HUGEINT) AS s FROM tc GROUP BY 1
    ),
    pair AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(SUM(least(a.c, b.c)) AS HUGEINT) AS m,
             CAST(count(*) AS HUGEINT) AS shared_terms
      FROM tc a JOIN tc b
        ON a.term = b.term AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b,
           CAST(shared_terms AS BIGINT) AS shared_terms,
           CAST((ta.s + tb.s - 2 * m) * 1000000 // (ta.s + tb.s)
                AS BIGINT) AS bc_micro
    FROM pair
    JOIN tot ta ON ta.source = pair.src_a
    JOIN tot tb ON tb.source = pair.src_b
    ORDER BY src_a, src_b
    """,
)
def q_bray_curtis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X395 — pairwise Bray–Curtis BC = 1 − 2Σmin(c_a,c_b)/(S_a+S_b)
    over per-source token counts, ZERO floats end to end: counts and
    Σmin are exact integers and the display value is the
    cross-multiplied integer micro-unit (S_a+S_b−2m)·1e6 div
    (S_a+S_b). Scale shape: one token-keyed aggregate (map-side
    combined), a term-keyed self-join whose fan-out is bounded by
    #sources per term (≤ 20² pairs per term — the blocking key is the
    term), #source²-sized output. Output 190 rows."""
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        "source",
        F.explode(F.split(F.lower("text"), " ")).alias("term"),
    )
    tc = terms.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("c")
    )
    tot = tc.groupBy("source").agg(
        F.sum("c").cast("decimal(38,0)").alias("s")
    )
    a = tc.select(
        F.col("source").alias("src_a"),
        "term",
        F.col("c").alias("ca"),
    )
    b = tc.select(
        F.col("source").alias("src_b"),
        "term",
        F.col("c").alias("cb"),
    )
    pair = (
        a.join(b, "term")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.sum(F.least("ca", "cb"))
            .cast("decimal(38,0)")
            .alias("m"),
            F.count(F.lit(1)).cast("decimal(38,0)").alias(
                "shared_terms"
            ),
        )
    )
    ta = tot.select(
        F.col("source").alias("src_a"), F.col("s").alias("sa")
    )
    tb = tot.select(
        F.col("source").alias("src_b"), F.col("s").alias("sb")
    )
    return (
        pair.join(F.broadcast(ta), "src_a")
        .join(F.broadcast(tb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("shared_terms").cast("long").alias("shared_terms"),
            F.expr(
                "CAST((sa + sb - 2 * m) * 1000000 div (sa + sb)"
                " AS BIGINT)"
            ).alias("bc_micro"),
        )
        .orderBy("src_a", "src_b")
    )


# --------------------------------------------------------------------------
# X396 — Theil's U2 forecast-skill coefficient of the naive
# lag-1 forecast on the zero-filled daily purchase-revenue series:
# U2 < 1 means yesterday's value beats a random walk — the
# one-number "is this series forecastable" screen behind X121's
# backtest and X284's Holt–Winters.
# --------------------------------------------------------------------------
@query(
    "q_theil_u",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(sum(CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100, 0) AS HUGEINT)
                  ELSE 0 END) AS HUGEINT) AS y
      FROM events GROUP BY 1
    ),
    span AS (SELECT min(d) AS d0, max(d) AS d1 FROM daily),
    grid AS (
      SELECT unnest(range(0, datediff('day', d0, d1) + 1)) AS i
      FROM span
    ),
    obs AS (
      SELECT datediff('day', s.d0, d) AS i, y
      FROM daily CROSS JOIN span s
    ),
    dense AS (
      SELECT g.i, COALESCE(o.y, 0::HUGEINT) AS y
      FROM grid g LEFT JOIN obs o USING (i)
    ),
    lagd AS (
      SELECT a.i, a.y, b.y AS yprev
      FROM dense a JOIN dense b ON b.i = a.i - 1
    ),
    st AS (
      SELECT CAST(count(*) AS HUGEINT) AS n1,
             CAST(SUM((y - yprev) * (y - yprev)) AS HUGEINT) AS num,
             CAST(SUM(yprev * yprev) AS HUGEINT) AS den
      FROM lagd
    )
    SELECT CAST(n1 + 1 AS BIGINT) AS n_days,
           CAST(num AS BIGINT) AS sum_sq_diff,
           CAST(den AS BIGINT) AS sum_sq_prev,
           CAST(CASE WHEN den > 0 THEN
             round(sqrt(CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
                   * 1000000) END AS BIGINT) AS u2_micro,
           CASE WHEN den > 0 THEN
             CAST(num AS DOUBLE) < CAST(den AS DOUBLE) END
             AS naive_beats_walk
    FROM st
    """,
)
def q_theil_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X396 — Theil's U2 = sqrt(Σ(y_t−y_{t−1})² / Σy_{t−1}²) on the
    zero-filled daily purchase-cents series (X303 rule: the calendar
    grid, not observed days, so gaps count as zero revenue).

    Exactness: the grid and both sums of squares are exact integers
    (cents² × days stays far inside DECIMAL(38) at any SF); the lone
    sqrt is one identical-input double behind a micro round; the
    skill flag compares the INTEGER sums cross-multiplied (num < den)
    — no float in the boolean. Scale shape: fact → daily rollup →
    calendar-sized self-join (never fact-sized) → 1 row."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.expr("CAST(round(value * 100, 0) AS DECIMAL(38,0))"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        )
        .cast("decimal(38,0)")
        .alias("y")
    )
    span = daily.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    grid = F.broadcast(span).select(
        F.explode(
            F.sequence(F.lit(0), F.datediff("d1", "d0"))
        ).alias("i")
    )
    obs = daily.crossJoin(F.broadcast(span)).select(
        F.datediff("d", "d0").alias("i"), "y"
    )
    dense = grid.join(obs, "i", "left").select(
        "i",
        F.coalesce(F.col("y"), F.lit(0).cast("decimal(38,0)")).alias(
            "y"
        ),
    )
    bside = dense.select(
        (F.col("i") + 1).alias("i"), F.col("y").alias("yprev")
    )
    lagd = dense.join(bside, "i")
    st = lagd.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n1"),
        F.sum(F.expr("(y - yprev) * (y - yprev)"))
        .cast("decimal(38,0)")
        .alias("num"),
        F.sum(F.expr("yprev * yprev"))
        .cast("decimal(38,0)")
        .alias("den"),
    )
    return st.select(
        F.expr("CAST(n1 + 1 AS BIGINT)").alias("n_days"),
        F.col("num").cast("long").alias("sum_sq_diff"),
        F.col("den").cast("long").alias("sum_sq_prev"),
        F.expr(
            "CAST(CASE WHEN den > 0 THEN"
            " round(sqrt(CAST(num AS DOUBLE) / CAST(den AS DOUBLE))"
            "       * 1000000) END AS BIGINT)"
        ).alias("u2_micro"),
        F.expr(
            "CASE WHEN den > 0 THEN"
            " CAST(num AS DOUBLE) < CAST(den AS DOUBLE) END"
        ).alias("naive_beats_walk"),
    )


# --------------------------------------------------------------------------
# X397 — distinct-n diversity (the self-BLEU complement): corpus-level
# distinct 1/2/3-gram ratios per source — the generation-diversity
# screen (low distinct-n = mode collapse / template spam) that
# complements X226's repetition gate, which is per-document.
# --------------------------------------------------------------------------
@query(
    "q_distinct_ngrams",
    oracle="""
    WITH toks AS (
      SELECT source, string_split(lower(text), ' ') AS t
      FROM documents
    ),
    g1 AS (
      SELECT source, unnest(t) AS g FROM toks
    ),
    g2 AS (
      SELECT source, array_to_string(t[s:s+1], ' ') AS g
      FROM (SELECT source, t, unnest(range(1, len(t))) AS s
            FROM toks WHERE len(t) >= 2)
    ),
    g3 AS (
      SELECT source, array_to_string(t[s:s+2], ' ') AS g
      FROM (SELECT source, t, unnest(range(1, len(t) - 1)) AS s
            FROM toks WHERE len(t) >= 3)
    ),
    s1 AS (SELECT source, CAST(count(*) AS HUGEINT) AS t1,
                  CAST(count(DISTINCT g) AS HUGEINT) AS d1
           FROM g1 GROUP BY 1),
    s2 AS (SELECT source, CAST(count(*) AS HUGEINT) AS t2,
                  CAST(count(DISTINCT g) AS HUGEINT) AS d2
           FROM g2 GROUP BY 1),
    s3 AS (SELECT source, CAST(count(*) AS HUGEINT) AS t3,
                  CAST(count(DISTINCT g) AS HUGEINT) AS d3
           FROM g3 GROUP BY 1)
    SELECT s1.source AS source,
           CAST(t1 AS BIGINT) AS n_tokens,
           CAST(d1 * 1000000 // t1 AS BIGINT) AS distinct1_micro,
           CAST(d2 * 1000000 // t2 AS BIGINT) AS distinct2_micro,
           CAST(d3 * 1000000 // t3 AS BIGINT) AS distinct3_micro
    FROM s1 JOIN s2 USING (source) JOIN s3 USING (source)
    ORDER BY source
    """,
)
def q_distinct_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X397 — corpus-level distinct-1/2/3-gram ratios per source
    (distinct-n, Li et al.'s diversity metric; 1 − distinct-n is the
    self-BLEU-style redundancy). ZERO floats: gram totals and
    distincts are exact integers, ratios are integer micro-units via
    div. Scale shape: three gram explosions (gram volume ≤ 3× token
    volume) → per-source count-distinct aggregates (map-side partial
    on the gram key) → #sources join. Output ≤ #sources rows."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.split(F.lower("text"), " ").alias("t")
    )

    def grams(n: int, out: str) -> DataFrame:
        if n == 1:
            g = toks.select(
                "source", F.explode("t").alias("g")
            )
        else:
            g = toks.filter(F.size("t") >= n).select(
                "source",
                F.explode(
                    F.expr(
                        f"transform(sequence(1, size(t) - {n - 1}),"
                        f" i -> concat_ws(' ', slice(t, i, {n})))"
                    )
                ).alias("g"),
            )
        return g.groupBy("source").agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias(f"t{n}"),
            F.countDistinct("g").cast("decimal(38,0)").alias(f"d{n}"),
        )

    s1, s2, s3 = grams(1, "d1"), grams(2, "d2"), grams(3, "d3")
    return (
        s1.join(s2, "source")
        .join(s3, "source")
        .select(
            "source",
            F.col("t1").cast("long").alias("n_tokens"),
            F.expr("CAST(d1 * 1000000 div t1 AS BIGINT)").alias(
                "distinct1_micro"
            ),
            F.expr("CAST(d2 * 1000000 div t2 AS BIGINT)").alias(
                "distinct2_micro"
            ),
            F.expr("CAST(d3 * 1000000 div t3 AS BIGINT)").alias(
                "distinct3_micro"
            ),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# X398 — OOV rate of a held-out split against the training split's
# vocabulary: the tokenizer/vocab-coverage check run before committing
# a vocab (X258's fertility tells you tokens-per-word; THIS tells you
# what the vocab simply cannot express).
# --------------------------------------------------------------------------
@query(
    "q_oov_rate",
    oracle="""
    WITH tagged AS (
      SELECT source, text,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
               ::BIGINT % 10 AS bucket
      FROM documents
    ),
    train_vocab AS (
      SELECT DISTINCT unnest(string_split(lower(text), ' ')) AS term
      FROM tagged WHERE bucket < 8
    ),
    held AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS term
      FROM tagged WHERE bucket >= 8
    ),
    st AS (
      SELECT h.source,
             CAST(count(*) AS HUGEINT) AS total,
             CAST(count(*) FILTER (v.term IS NULL) AS HUGEINT) AS oov
      FROM held h LEFT JOIN train_vocab v ON h.term = v.term
      GROUP BY 1
    )
    SELECT source, CAST(total AS BIGINT) AS n_tokens,
           CAST(oov AS BIGINT) AS n_oov,
           CAST(oov * 1000000 // total AS BIGINT) AS oov_micro
    FROM st ORDER BY source
    """,
)
def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X398 — held-out OOV rate per source: docs split 80/20 by the
    shared 15-hex md5(doc_id) bucket (the deterministic-membership
    idiom — no RNG state), train-split distinct tokens form the
    vocabulary, held-out tokens left-join it. ZERO floats (integer
    micro-unit rate). Scale shape: vocab is a distinct on the token
    key (map-side partial); the membership probe is a broadcast-able
    vocab join (vocab ≪ corpus by Heaps' law); one per-source
    aggregate. Output ≤ #sources rows."""
    docs = load_table(spark, sf_dir, "documents")
    tagged = docs.select(
        "source",
        "text",
        F.expr(
            "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15),"
            " 16, 10) AS BIGINT) % 10"
        ).alias("bucket"),
    )
    vocab = (
        tagged.filter(F.col("bucket") < 8)
        .select(
            F.explode(F.split(F.lower("text"), " ")).alias("term")
        )
        .distinct()
        .withColumn("__in_vocab", F.lit(1))
    )
    held = tagged.filter(F.col("bucket") >= 8).select(
        "source",
        F.explode(F.split(F.lower("text"), " ")).alias("term"),
    )
    st = (
        held.join(F.broadcast(vocab), "term", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("total"),
            F.sum(
                F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)
            )
            .cast("decimal(38,0)")
            .alias("oov"),
        )
    )
    return st.select(
        "source",
        F.col("total").cast("long").alias("n_tokens"),
        F.col("oov").cast("long").alias("n_oov"),
        F.expr("CAST(oov * 1000000 div total AS BIGINT)").alias(
            "oov_micro"
        ),
    ).orderBy("source")


# --------------------------------------------------------------------------
# X399 — greenlist watermark detection (Kirchenbauer et al.): z-score
# of green-token frequency per document under a γ=1/4 md5-derived
# greenlist — the screen a curation pipeline runs to keep
# synthetically-watermarked model output OUT of training data.
# --------------------------------------------------------------------------
_WM_SALT = "wm16"


@query(
    "q_watermark_detect",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source,
             unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ),
    hits AS (
      SELECT doc_id, source,
             CAST(count(*) AS HUGEINT) AS t,
             CAST(count(*) FILTER (
               ('0x' || substr(md5(term || '|{_WM_SALT}'), 1, 15))
                 ::BIGINT % 4 = 0) AS HUGEINT) AS g
      FROM toks GROUP BY 1, 2
    ),
    z AS (
      SELECT doc_id, source, t, g,
             CAST(round((4.0 * CAST(g AS DOUBLE) - CAST(t AS DOUBLE))
                  / (2.0 * sqrt(3.0 * CAST(t AS DOUBLE))) * 1000000)
                  AS BIGINT) AS z_micro
      FROM hits WHERE t > 0
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (z_micro > 4000000) AS BIGINT)
             AS n_flagged,
           CAST(max(z_micro) AS BIGINT) AS max_z_micro,
           CAST(SUM(g) * 1000000 // SUM(t) AS BIGINT)
             AS green_rate_micro
    FROM z GROUP BY source ORDER BY source
    """,
)
def q_watermark_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X399 — Kirchenbauer-style watermark screen: greenlist = tokens
    whose shared 15-hex md5(term|salt) integer ≡ 0 mod 4 (γ = 1/4,
    context-free variant — detectable without the generator's key
    schedule), per-doc z = (g − γT)/√(Tγ(1−γ)) = (4g − T)/(2√(3T)).

    Exactness: hits and totals are exact integers; z is one
    identical-input double (single sqrt) behind a micro round;
    per-source green rate is the integer micro-unit Σg·1e6 div ΣT;
    the 4σ flag compares micro INTEGERS. On clean human text the
    flag rate is ~0 by construction — the screen's value is the
    z distribution itself (a watermarked subset shifts it hard
    right). Scale shape: one token explosion → per-doc aggregate
    (map-side combined) → per-source rollup. Output ≤ #sources."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.explode(F.split(F.lower("text"), " ")).alias("term"),
    )
    hits = toks.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("t"),
        F.sum(
            F.expr(
                f"CASE WHEN CAST(conv(substr(md5(term || '|{_WM_SALT}'),"
                " 1, 15), 16, 10) AS BIGINT) % 4 = 0 THEN 1 ELSE 0 END"
            )
        )
        .cast("decimal(38,0)")
        .alias("g"),
    )
    z = hits.filter(F.col("t") > 0).select(
        "source",
        "t",
        "g",
        F.expr(
            "CAST(round((4.0 * CAST(g AS DOUBLE) - CAST(t AS DOUBLE))"
            " / (2.0 * sqrt(3.0 * CAST(t AS DOUBLE))) * 1000000)"
            " AS BIGINT)"
        ).alias("z_micro"),
    )
    return (
        z.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(
                F.when(F.col("z_micro") > 4000000, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_flagged"),
            F.max("z_micro").cast("long").alias("max_z_micro"),
            F.expr(
                "CAST(SUM(g) * 1000000 div SUM(t) AS BIGINT)"
            ).alias("green_rate_micro"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# X400 — two-group log-rank test on the X324 lifetime frame: does the
# md5 split-hash cohort change the survival curve — the inferential
# companion to q_survival_km's descriptive KM estimate.
# --------------------------------------------------------------------------
@query(
    "q_logrank_test",
    oracle="""
    WITH au AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    mx AS (SELECT max(d) AS dmax FROM au),
    life AS (
      SELECT user_id,
             CAST(datediff('day', min(d), max(d)) AS HUGEINT) AS t,
             CAST(max(d) = (SELECT dmax FROM mx) AS INT) AS censored,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
               ::BIGINT % 2 AS grp
      FROM au GROUP BY user_id
    ),
    lt AS (
      SELECT t, grp,
             CAST(count(*) AS HUGEINT) AS n_at,
             CAST(SUM(1 - censored) AS HUGEINT) AS d_ev
      FROM life GROUP BY 1, 2
    ),
    grid AS (
      SELECT t,
             CAST(COALESCE(SUM(CASE WHEN grp = 0 THEN n_at END), 0)
                  AS HUGEINT) AS a0,
             CAST(COALESCE(SUM(CASE WHEN grp = 0 THEN d_ev END), 0)
                  AS HUGEINT) AS d0,
             CAST(COALESCE(SUM(CASE WHEN grp = 1 THEN n_at END), 0)
                  AS HUGEINT) AS a1,
             CAST(COALESCE(SUM(CASE WHEN grp = 1 THEN d_ev END), 0)
                  AS HUGEINT) AS d1
      FROM lt GROUP BY t
    ),
    tot AS (
      SELECT CAST(SUM(a0) AS HUGEINT) AS nu0,
             CAST(SUM(a1) AS HUGEINT) AS nu1
      FROM grid
    ),
    risk AS (
      SELECT t, d0, d1,
             CAST((SELECT nu0 FROM tot)
                  - COALESCE(SUM(a0) OVER (ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS HUGEINT) AS n0t,
             CAST((SELECT nu1 FROM tot)
                  - COALESCE(SUM(a1) OVER (ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS HUGEINT) AS n1t
      FROM grid
    ),
    st AS (
      SELECT CAST(SUM(d1) AS HUGEINT) AS o1,
             SUM(CAST(d0 + d1 AS DOUBLE) * CAST(n1t AS DOUBLE)
                 / CAST(n0t + n1t AS DOUBLE)) AS e1,
             SUM(CASE WHEN n0t + n1t > 1 THEN
               CAST(d0 + d1 AS DOUBLE)
               * (CAST(n1t AS DOUBLE) / CAST(n0t + n1t AS DOUBLE))
               * (CAST(n0t AS DOUBLE) / CAST(n0t + n1t AS DOUBLE))
               * (CAST(n0t + n1t - d0 - d1 AS DOUBLE)
                  / CAST(n0t + n1t - 1 AS DOUBLE))
               ELSE 0.0 END) AS v
      FROM risk WHERE d0 + d1 > 0
    )
    SELECT CAST((SELECT nu0 FROM tot) AS BIGINT) AS n_a,
           CAST((SELECT nu1 FROM tot) AS BIGINT) AS n_b,
           CAST(o1 AS BIGINT) AS observed_b,
           CAST(round(e1 * 1000) AS BIGINT) AS expected_b_milli,
           CAST(CASE WHEN v > 0 THEN
             round((CAST(o1 AS DOUBLE) - e1) / sqrt(v) * 1000000)
             END AS BIGINT) AS z_micro,
           CASE WHEN v > 0 THEN
             abs((CAST(o1 AS DOUBLE) - e1) / sqrt(v))
               > 1.959963984540054 END AS curves_differ
    FROM st
    """,
)
def q_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X400 — Mantel–Cox log-rank between the md5 split-hash user
    cohorts on the q_survival_km lifetime frame (t = active-span
    days; censored iff last activity is on the global max day):
    O₁ vs E₁ = Σ dₜ·n₁ₜ/nₜ with hypergeometric variance
    V = Σ dₜ(n₁ₜ/nₜ)(n₀ₜ/nₜ)(nₜ−dₜ)/(nₜ−1).

    Exactness: per-(duration, group) ending/death counts are exact
    integers; at-risk counts come from total-minus-prefix integer
    windows on the DENSIFIED duration grid (so both cohorts have a
    row at every duration — a missing row would silently zero a risk
    set); E₁ and V combine those integers in identical double
    expressions behind milli/micro rounds; nₜ=1 strata contribute 0
    variance via the mirrored guard. Gate z_0.975 (X341 rule).
    Scale shape: one user aggregate, one duration-grid rollup
    (duration-domain window, class a) → 1 row."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    au = ev.select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    mx = au.agg(F.max("d").alias("dmax"))
    life = (
        au.groupBy("user_id")
        .agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
        .crossJoin(F.broadcast(mx))
        .select(
            F.datediff("d1", "d0")
            .cast("decimal(38,0)")
            .alias("t"),
            F.expr(
                "CASE WHEN d1 = dmax THEN 1 ELSE 0 END"
            ).alias("censored"),
            F.expr(
                "CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 15),"
                " 16, 10) AS BIGINT) % 2"
            ).alias("grp"),
        )
    )
    grid = life.groupBy("t").agg(
        F.sum(F.expr("CASE WHEN grp = 0 THEN 1 ELSE 0 END"))
        .cast("decimal(38,0)")
        .alias("a0"),
        F.sum(
            F.expr("CASE WHEN grp = 0 THEN 1 - censored ELSE 0 END")
        )
        .cast("decimal(38,0)")
        .alias("d0"),
        F.sum(F.expr("CASE WHEN grp = 1 THEN 1 ELSE 0 END"))
        .cast("decimal(38,0)")
        .alias("a1"),
        F.sum(
            F.expr("CASE WHEN grp = 1 THEN 1 - censored ELSE 0 END")
        )
        .cast("decimal(38,0)")
        .alias("d1"),
    )
    tot = grid.agg(
        F.sum("a0").cast("decimal(38,0)").alias("nu0"),
        F.sum("a1").cast("decimal(38,0)").alias("nu1"),
    )
    w = W.orderBy("t").rowsBetween(W.unboundedPreceding, -1)
    risk = (
        grid.select(
            "t",
            "d0",
            "d1",
            F.coalesce(
                F.sum("a0").over(w), F.lit(0).cast("decimal(38,0)")
            ).alias("c0"),
            F.coalesce(
                F.sum("a1").over(w), F.lit(0).cast("decimal(38,0)")
            ).alias("c1"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "t",
            "d0",
            "d1",
            F.expr("CAST(nu0 - c0 AS DECIMAL(38,0))").alias("n0t"),
            F.expr("CAST(nu1 - c1 AS DECIMAL(38,0))").alias("n1t"),
        )
    )
    st = risk.filter(F.expr("d0 + d1 > 0")).agg(
        F.sum("d1").cast("decimal(38,0)").alias("o1"),
        F.sum(
            F.expr(
                "CAST(d0 + d1 AS DOUBLE) * CAST(n1t AS DOUBLE)"
                " / CAST(n0t + n1t AS DOUBLE)"
            )
        ).alias("e1"),
        F.sum(
            F.expr(
                "CASE WHEN n0t + n1t > 1 THEN"
                " CAST(d0 + d1 AS DOUBLE)"
                " * (CAST(n1t AS DOUBLE) / CAST(n0t + n1t AS DOUBLE))"
                " * (CAST(n0t AS DOUBLE) / CAST(n0t + n1t AS DOUBLE))"
                " * (CAST(n0t + n1t - d0 - d1 AS DOUBLE)"
                "    / CAST(n0t + n1t - 1 AS DOUBLE))"
                " ELSE CAST(0.0 AS DOUBLE) END"
            )
        ).alias("v"),
    )
    return st.crossJoin(F.broadcast(tot)).select(
        F.col("nu0").cast("long").alias("n_a"),
        F.col("nu1").cast("long").alias("n_b"),
        F.col("o1").cast("long").alias("observed_b"),
        F.expr("CAST(round(e1 * 1000) AS BIGINT)").alias(
            "expected_b_milli"
        ),
        F.expr(
            "CAST(CASE WHEN v > CAST(0.0 AS DOUBLE) THEN"
            " round((CAST(o1 AS DOUBLE) - e1) / sqrt(v) * 1000000)"
            " END AS BIGINT)"
        ).alias("z_micro"),
        F.expr(
            "CASE WHEN v > CAST(0.0 AS DOUBLE) THEN"
            " abs((CAST(o1 AS DOUBLE) - e1) / sqrt(v))"
            " > 1.959963984540054 END"
        ).alias("curves_differ"),
    )


# --------------------------------------------------------------------------
# X401 — Cochran–Mantel–Haenszel: the cohort × high-value association
# tested WITHIN each event-type stratum — the confounder-proof
# companion to X345's Simpson-reversal audit (Simpson says strata can
# flip the aggregate; CMH tests the common within-stratum effect).
# --------------------------------------------------------------------------
@query(
    "q_cmh_test",
    oracle="""
    WITH base AS (
      SELECT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
               ::BIGINT % 2 AS cohort,
             CASE WHEN value >= 100 THEN 1 ELSE 0 END AS hi
      FROM events
    ),
    ct AS (
      SELECT event_type,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(count(*) FILTER (cohort = 0) AS HUGEINT) AS r1,
             CAST(count(*) FILTER (hi = 1) AS HUGEINT) AS c1,
             CAST(count(*) FILTER (cohort = 0 AND hi = 1) AS HUGEINT)
               AS a
      FROM base GROUP BY 1 HAVING count(*) > 1
    ),
    st AS (
      SELECT CAST(count(*) AS HUGEINT) AS n_strata,
             CAST(SUM(a) AS HUGEINT) AS sa,
             SUM(CAST(r1 AS DOUBLE) * CAST(c1 AS DOUBLE)
                 / CAST(n AS DOUBLE)) AS se,
             SUM(CAST(r1 AS DOUBLE) * CAST(n - r1 AS DOUBLE)
                 * CAST(c1 AS DOUBLE) * CAST(n - c1 AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                    * CAST(n - 1 AS DOUBLE))) AS sv
      FROM ct
    )
    SELECT CAST(n_strata AS BIGINT) AS n_strata,
           CAST(sa AS BIGINT) AS sum_a,
           CAST(round(se * 1000) AS BIGINT) AS expected_milli,
           CAST(CASE WHEN sv > 0 THEN
             round((CAST(sa AS DOUBLE) - se) * (CAST(sa AS DOUBLE) - se)
                   / sv * 1000) END AS BIGINT) AS cmh_milli,
           CASE WHEN sv > 0 THEN
             (CAST(sa AS DOUBLE) - se) * (CAST(sa AS DOUBLE) - se) / sv
               > 3.841458820694124 END AS association
    FROM st
    """,
)
def q_cmh_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X401 — CMH χ²(1) = (Σaᵢ − ΣEᵢ)²/ΣVᵢ over per-type 2×2 tables
    (cohort × value≥100), Eᵢ = r1·c1/n, Vᵢ = r1·r2·c1·c2/(n²(n−1)).
    Exactness: all margins exact integers; E and V identical-input
    doubles; single-row strata drop via the mirrored n>1 guard. Gate
    on the shared χ²(1) literal 3.841458820694124. Scale shape: one
    fact-sized aggregate → #strata arithmetic → 1 row."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.expr(
            "CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 15),"
            " 16, 10) AS BIGINT) % 2"
        ).alias("cohort"),
        F.expr(
            "CASE WHEN value >= 100 THEN 1 ELSE 0 END"
        ).alias("hi"),
    )
    ct = (
        base.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.sum(F.expr("CASE WHEN cohort = 0 THEN 1 ELSE 0 END"))
            .cast("decimal(38,0)")
            .alias("r1"),
            F.sum("hi").cast("decimal(38,0)").alias("c1"),
            F.sum(
                F.expr(
                    "CASE WHEN cohort = 0 AND hi = 1 THEN 1 ELSE 0 END"
                )
            )
            .cast("decimal(38,0)")
            .alias("a"),
        )
        .filter(F.col("n") > 1)
    )
    st = ct.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n_strata"),
        F.sum("a").cast("decimal(38,0)").alias("sa"),
        F.sum(
            F.expr(
                "CAST(r1 AS DOUBLE) * CAST(c1 AS DOUBLE)"
                " / CAST(n AS DOUBLE)"
            )
        ).alias("se"),
        F.sum(
            F.expr(
                "CAST(r1 AS DOUBLE) * CAST(n - r1 AS DOUBLE)"
                " * CAST(c1 AS DOUBLE) * CAST(n - c1 AS DOUBLE)"
                " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
                "    * CAST(n - 1 AS DOUBLE))"
            )
        ).alias("sv"),
    )
    return st.select(
        F.col("n_strata").cast("long").alias("n_strata"),
        F.col("sa").cast("long").alias("sum_a"),
        F.expr("CAST(round(se * 1000) AS BIGINT)").alias(
            "expected_milli"
        ),
        F.expr(
            "CAST(CASE WHEN sv > CAST(0.0 AS DOUBLE) THEN"
            " round((CAST(sa AS DOUBLE) - se)"
            "       * (CAST(sa AS DOUBLE) - se) / sv * 1000)"
            " END AS BIGINT)"
        ).alias("cmh_milli"),
        F.expr(
            "CASE WHEN sv > CAST(0.0 AS DOUBLE) THEN"
            " (CAST(sa AS DOUBLE) - se) * (CAST(sa AS DOUBLE) - se)"
            " / sv > 3.841458820694124 END"
        ).alias("association"),
    )


# --------------------------------------------------------------------------
# X402 — median (τ=0.5 pinball) regression of daily revenue on the
# day index by exact grid search: the outlier-robust trend line X216's
# OLS can't give (one whale day drags the mean fit; the median fit
# ignores it) — and a wholly-integer argmin, no iterative solver.
# --------------------------------------------------------------------------
@query(
    "q_quantile_regression",
    oracle="""
    WITH daily AS (
      SELECT datediff('day',
               (SELECT min(CAST(ts AS DATE)) FROM events),
               CAST(ts AS DATE)) AS x,
             CAST(sum(CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100, 0) AS HUGEINT)
                  ELSE 0 END) AS HUGEINT) AS y
      FROM events GROUP BY CAST(ts AS DATE)
    ),
    yr AS (
      SELECT CAST(min(y) AS HUGEINT) AS ymin,
             CAST(max(y) AS HUGEINT) AS ymax,
             CAST(max(x) AS HUGEINT) AS xmax
      FROM daily
    ),
    bgrid AS (
      SELECT CAST(k AS HUGEINT) AS bk,
             CAST(CASE WHEN xmax > 0 THEN
               (ymax - ymin) * (k - 10) // (10 * xmax) ELSE 0 END
               AS HUGEINT) AS b
      FROM unnest(range(0, 21)) t(k), yr
    ),
    agrid AS (
      SELECT CAST(k AS HUGEINT) AS ak,
             CAST(ymin + (ymax - ymin) * k // 20 AS HUGEINT) AS a
      FROM unnest(range(0, 21)) t(k), yr
    ),
    loss AS (
      SELECT bk, ak, b, a,
             CAST(SUM(abs(y - a - b * x)) AS HUGEINT) AS l1
      FROM daily, bgrid, agrid
      GROUP BY bk, ak, b, a
    ),
    best AS (
      SELECT b, a, l1,
             row_number() OVER (ORDER BY l1, bk, ak) AS rn
      FROM loss
    )
    SELECT CAST((SELECT count(*) FROM daily) AS BIGINT) AS n_days,
           CAST(b AS BIGINT) AS slope_cents_per_day,
           CAST(a AS BIGINT) AS intercept_cents,
           CAST(l1 AS BIGINT) AS l1_loss_cents
    FROM best WHERE rn = 1
    """,
)
def q_quantile_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X402 — exact grid-search median regression: 21 slope × 21
    intercept candidates derived from the data's integer range
    (b_k = (ymax−ymin)(k−10) div (10·xmax), a_k = ymin +
    (ymax−ymin)k div 20), L1 pinball loss summed in EXACT integer
    cents, argmin by (loss, bk, ak) integer rank — zero floats
    anywhere, so the fit is bit-identical cross-engine by
    construction. Grid search IS the scalable shape here: 441
    candidates × a calendar-sized daily table is one broadcast
    cross-product aggregate (map-side combined), vs an iterative
    IRLS solver's data-dependent driver loop. Scale shape: fact →
    daily rollup → 441×days agg → 1 row."""
    ev = load_table(spark, sf_dir, "events")
    dmin = ev.agg(
        F.min(F.to_date("ts")).alias("dmin")
    )
    daily = (
        ev.crossJoin(F.broadcast(dmin))
        .groupBy(F.datediff(F.to_date("ts"), F.col("dmin")).alias("x"))
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.expr(
                        "CAST(round(value * 100, 0) AS DECIMAL(38,0))"
                    ),
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            )
            .cast("decimal(38,0)")
            .alias("y")
        )
        .select(F.col("x").cast("decimal(38,0)").alias("x"), "y")
    )
    yr = daily.agg(
        F.min("y").cast("decimal(38,0)").alias("ymin"),
        F.max("y").cast("decimal(38,0)").alias("ymax"),
        F.max("x").cast("decimal(38,0)").alias("xmax"),
    )
    ks = daily.sparkSession.range(0, 21).select(
        F.col("id").cast("decimal(38,0)").alias("k")
    )
    bgrid = ks.crossJoin(F.broadcast(yr)).select(
        F.col("k").alias("bk"),
        F.expr(
            "CAST(CASE WHEN xmax > 0 THEN"
            " (ymax - ymin) * (k - 10) div (10 * xmax) ELSE 0 END"
            " AS DECIMAL(38,0))"
        ).alias("b"),
    )
    agrid = ks.crossJoin(F.broadcast(yr)).select(
        F.col("k").alias("ak"),
        F.expr(
            "CAST(ymin + (ymax - ymin) * k div 20 AS DECIMAL(38,0))"
        ).alias("a"),
    )
    loss = (
        daily.crossJoin(F.broadcast(bgrid))
        .crossJoin(F.broadcast(agrid))
        .groupBy("bk", "ak", "b", "a")
        .agg(
            F.sum(F.expr("abs(y - a - b * x)"))
            .cast("decimal(38,0)")
            .alias("l1")
        )
    )
    best = (
        loss.orderBy("l1", "bk", "ak")
        .limit(1)
    )
    nd = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n_days")
    )
    return best.crossJoin(F.broadcast(nd)).select(
        "n_days",
        F.col("b").cast("long").alias("slope_cents_per_day"),
        F.col("a").cast("long").alias("intercept_cents"),
        F.col("l1").cast("long").alias("l1_loss_cents"),
    )


# --------------------------------------------------------------------------
# X403 — Jonckheere–Terpstra ordered-alternative trend across the
# alphabetically-ordered event types: X391's Kruskal–Wallis asks "do
# the groups differ"; JT asks the sharper "do they INCREASE in this
# order", with full tie correction.
# --------------------------------------------------------------------------
@query(
    "q_jonckheere",
    oracle="""
    WITH tc AS (
      SELECT event_type AS g, value AS v,
             CAST(count(*) AS HUGEINT) AS c
      FROM events GROUP BY 1, 2
    ),
    vals AS (SELECT DISTINCT v FROM tc),
    grps AS (SELECT DISTINCT g FROM tc),
    dense AS (
      SELECT grps.g, vals.v, CAST(COALESCE(tc.c, 0) AS HUGEINT) AS c
      FROM grps CROSS JOIN vals
      LEFT JOIN tc ON tc.g = grps.g AND tc.v = vals.v
    ),
    cum AS (
      SELECT g, v, c,
             CAST(COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS HUGEINT) AS fp
      FROM dense
    ),
    u2 AS (
      SELECT CAST(SUM(b.c * (2 * a.fp + a.c)) AS HUGEINT) AS jt2
      FROM cum a JOIN cum b ON a.v = b.v AND a.g < b.g
    ),
    gsz AS (
      SELECT g, CAST(SUM(c) AS HUGEINT) AS u FROM tc GROUP BY g
    ),
    tsz AS (
      SELECT v, CAST(SUM(c) AS HUGEINT) AS t FROM tc GROUP BY v
    ),
    mo AS (
      SELECT (SELECT SUM(u) FROM gsz) AS n,
             (SELECT SUM(u * u) FROM gsz) AS su2,
             (SELECT SUM(u * (u - 1) * (2 * u + 5)) FROM gsz) AS sua,
             (SELECT SUM(u * (u - 1) * (u - 2)) FROM gsz) AS sub,
             (SELECT SUM(u * (u - 1)) FROM gsz) AS suc,
             (SELECT SUM(t * (t - 1) * (2 * t + 5)) FROM tsz) AS sta,
             (SELECT SUM(t * (t - 1) * (t - 2)) FROM tsz) AS stb,
             (SELECT SUM(t * (t - 1)) FROM tsz) AS stc,
             (SELECT jt2 FROM u2) AS jt2
    ),
    st AS (
      SELECT n, jt2,
             CAST((n * n - su2) // 2 AS HUGEINT) AS e2,
             (CAST(n * (n - 1) * (2 * n + 5) - sua - sta AS DOUBLE)
                / 72.0
              + CAST(sub AS DOUBLE) * CAST(stb AS DOUBLE)
                / (36.0 * CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)
                   * CAST(n - 2 AS DOUBLE))
              + CAST(suc AS DOUBLE) * CAST(stc AS DOUBLE)
                / (8.0 * CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
               AS var
      FROM mo
    )
    SELECT CAST(n AS BIGINT) AS n_events,
           CAST(jt2 AS BIGINT) AS jt2,
           CAST(e2 AS BIGINT) AS e2,
           CAST(CASE WHEN var > 0 THEN
             round((CAST(jt2 AS DOUBLE) - CAST(e2 AS DOUBLE))
                   / (2.0 * sqrt(var)) * 1000000) END AS BIGINT)
             AS z_micro,
           CASE WHEN var > 0 THEN
             abs((CAST(jt2 AS DOUBLE) - CAST(e2 AS DOUBLE))
                 / (2.0 * sqrt(var))) > 1.959963984540054 END
             AS ordered_trend
    FROM st
    """,
)
def q_jonckheere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X403 — tie-corrected Jonckheere–Terpstra: doubled statistic
    JT2 = Σ_{i<j} Σ_v c_j(v)·(2F_i(v⁻) + c_i(v)) (strict pairs twice
    + ties once — exact integers on the DENSIFIED group×value grid,
    so every cumulative exists at every value), doubled mean
    E2 = (N² − Σu²)/2 (exact: Σ_{i<j} nᵢnⱼ — caught off by 2× by
    the planted two-group ledger below before release, the exact
    trap mirrored oracles can't see), and the Hollander–Wolfe
    three-term tie-corrected
    variance built from the integer group/tie aggregates (the B-term
    product exceeds DECIMAL(38) at corpus scale, so the three terms
    combine as identically-cast doubles — the X385 discipline);
    z = (JT2−E2)/(2√var) behind a micro round. Scale shape: one
    (group,value) aggregate, a #groups×#values densified grid with
    partitioned cumulative windows, a value-keyed ordered-pair join
    (≤ k² rows per value) → 1 row."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    # tc ((group, value) counts — grid-sized, NOT fact-sized) feeds FIVE
    # consumers (vals, grps, the dense left join, gsz, tsz), each of
    # which re-ran the fact aggregate; cum (the densified grid) feeds
    # both sides of the value-keyed pair join. Persist both → one fact
    # pass (guide §2.4/§5; the q_friedman/q_kendall_tau grid pattern).
    tc = caching.persist(
        ev.groupBy(F.col("event_type").alias("g"), F.col("value").alias("v"))
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("c"))
    )
    vals = tc.select("v").distinct()
    grps = tc.select("g").distinct()
    dense = (
        grps.crossJoin(vals)
        .join(tc, ["g", "v"], "left")
        .select(
            "g",
            "v",
            F.coalesce(
                F.col("c"), F.lit(0).cast("decimal(38,0)")
            ).alias("c"),
        )
    )
    w = (
        W.partitionBy("g")
        .orderBy("v")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cum = caching.persist(
        dense.select(
            "g",
            "v",
            "c",
            F.coalesce(
                F.sum("c").over(w), F.lit(0).cast("decimal(38,0)")
            ).alias("fp"),
        )
    )
    a = cum.select(
        F.col("g").alias("ga"),
        "v",
        F.col("c").alias("ca"),
        F.col("fp").alias("fpa"),
    )
    b = cum.select(
        F.col("g").alias("gb"), "v", F.col("c").alias("cb")
    )
    u2 = (
        a.join(b, "v")
        .filter(F.col("ga") < F.col("gb"))
        .agg(
            F.sum(
                F.expr("cb * (2 * fpa + ca)")
            )
            .cast("decimal(38,0)")
            .alias("jt2")
        )
    )
    gsz = tc.groupBy("g").agg(
        F.sum("c").cast("decimal(38,0)").alias("u")
    )
    tsz = tc.groupBy("v").agg(
        F.sum("c").cast("decimal(38,0)").alias("t")
    )
    gm = gsz.agg(
        F.sum("u").cast("decimal(38,0)").alias("n"),
        F.sum(F.expr("u * u")).cast("decimal(38,0)").alias("su2"),
        F.sum(F.expr("u * (u - 1) * (2 * u + 5)"))
        .cast("decimal(38,0)")
        .alias("sua"),
        F.sum(F.expr("u * (u - 1) * (u - 2)"))
        .cast("decimal(38,0)")
        .alias("sub"),
        F.sum(F.expr("u * (u - 1)"))
        .cast("decimal(38,0)")
        .alias("suc"),
    )
    tm = tsz.agg(
        F.sum(F.expr("t * (t - 1) * (2 * t + 5)"))
        .cast("decimal(38,0)")
        .alias("sta"),
        F.sum(F.expr("t * (t - 1) * (t - 2)"))
        .cast("decimal(38,0)")
        .alias("stb"),
        F.sum(F.expr("t * (t - 1)"))
        .cast("decimal(38,0)")
        .alias("stc"),
    )
    st = (
        u2.crossJoin(F.broadcast(gm))
        .crossJoin(F.broadcast(tm))
        .select(
            "n",
            "jt2",
            F.expr("CAST((n * n - su2) div 2 AS DECIMAL(38,0))").alias("e2"),
            F.expr(
                "CAST(n * (n - 1) * (2 * n + 5) - sua - sta AS DOUBLE)"
                " / CAST(72.0 AS DOUBLE)"
                " + CAST(sub AS DOUBLE) * CAST(stb AS DOUBLE)"
                "   / (CAST(36.0 AS DOUBLE) * CAST(n AS DOUBLE)"
                "      * CAST(n - 1 AS DOUBLE) * CAST(n - 2 AS DOUBLE))"
                " + CAST(suc AS DOUBLE) * CAST(stc AS DOUBLE)"
                "   / (CAST(8.0 AS DOUBLE) * CAST(n AS DOUBLE)"
                "      * CAST(n - 1 AS DOUBLE))"
            ).alias("var"),
        )
    )
    return st.select(
        F.col("n").cast("long").alias("n_events"),
        F.col("jt2").cast("long").alias("jt2"),
        F.col("e2").cast("long").alias("e2"),
        F.expr(
            "CAST(CASE WHEN var > CAST(0.0 AS DOUBLE) THEN"
            " round((CAST(jt2 AS DOUBLE) - CAST(e2 AS DOUBLE))"
            " / (CAST(2.0 AS DOUBLE) * sqrt(var)) * 1000000)"
            " END AS BIGINT)"
        ).alias("z_micro"),
        F.expr(
            "CASE WHEN var > CAST(0.0 AS DOUBLE) THEN"
            " abs((CAST(jt2 AS DOUBLE) - CAST(e2 AS DOUBLE))"
            " / (CAST(2.0 AS DOUBLE) * sqrt(var)))"
            " > 1.959963984540054 END"
        ).alias("ordered_trend"),
    )


# --------------------------------------------------------------------------
# X404 — cluster purity vs the embeddings' ground-truth labels: how
# well the X69 k-means blocking recovers the generator's label
# structure — the external-validity eval for every cluster-blocked
# operator (SemDeDup, IVF, k-center) that trusts those clusters.
# --------------------------------------------------------------------------
def _cluster_purity_oracle() -> str:
    from mysql_cdc_to_http_spark.queries.enrichment import _KMEANS_CTE

    return (
        _KMEANS_CTE
        + """
    , lab AS (
      SELECT a2.vec_id, a2.cluster, e2.label
      FROM a2 JOIN embeddings e2 ON e2.vec_id = a2.vec_id
    ),
    cl AS (
      SELECT cluster, label, CAST(count(*) AS HUGEINT) AS c
      FROM lab GROUP BY 1, 2
    ),
    top AS (
      SELECT cluster, label, c,
             row_number() OVER (PARTITION BY cluster
                                ORDER BY c DESC, label) AS rn,
             CAST(SUM(c) OVER (PARTITION BY cluster) AS HUGEINT) AS n
      FROM cl
    )
    SELECT CAST(cluster AS INT) AS cluster,
           CAST(n AS BIGINT) AS n_vecs,
           CAST(label AS BIGINT) AS top_label,
           CAST(c * 1000000 // n AS BIGINT) AS top_share_micro
    FROM top WHERE rn = 1 ORDER BY cluster
    """
    )


@query("q_cluster_purity", oracle=_cluster_purity_oracle())
def q_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X404 — per-cluster purity of the shared k=4/2-iteration
    k-means (q_kmeans's exact unrolled model) against the embeddings
    table's ground-truth label column: majority label and its integer
    micro share per cluster. Exactness: cluster assignment is the
    established argmin-stable shared model; counts and shares are
    exact integers (micro div); the majority pick is an integer rank
    with a deterministic label tiebreak. Scale shape: k-means
    assignment (broadcast centroids) → (cluster,label) aggregate →
    k-sized window. Output k rows."""
    from pyspark.sql.window import Window as W

    from mysql_cdc_to_http_spark.operators.clustering import kmeans

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = kmeans(emb, k=4, iters=2).select("vec_id", "cluster")
    lab = assigned.join(
        emb.select("vec_id", "label"), "vec_id"
    )
    cl = lab.groupBy("cluster", "label").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("c")
    )
    w = W.partitionBy("cluster")
    top = cl.select(
        "cluster",
        "label",
        "c",
        F.row_number()
        .over(w.orderBy(F.desc("c"), "label"))
        .alias("rn"),
        F.sum("c").over(w).cast("decimal(38,0)").alias("n"),
    )
    return (
        top.filter(F.col("rn") == 1)
        .select(
            F.col("cluster").cast("int").alias("cluster"),
            F.col("n").cast("long").alias("n_vecs"),
            F.col("label").cast("long").alias("top_label"),
            F.expr("CAST(c * 1000000 div n AS BIGINT)").alias(
                "top_share_micro"
            ),
        )
        .orderBy("cluster")
    )
