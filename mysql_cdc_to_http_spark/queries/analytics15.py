"""Round-15 additions (X355+): corpus-statistics and experiment-
analysis operators — Dunning G² keyness, Chao1 vocabulary richness,
Good–Turing smoothing, delta-method ratio-metric SE, deterministic
permutation testing, and companions.

House discipline (inherited from X281–X354): every count is an exact
integer aggregate; transcendentals are either quantized PER VALUE
(round(ln(x)·1000) milli-units — the X281/X300 rule, one libm call per
distinct integer, integer arithmetic afterwards) or identical-input
double arithmetic behind a 6-dp round; divisions of integers use
truncating div only on provably non-negative operands, else the X216
sign-corrected idiom. Reference analog: none (main.go has no
statistics surface) — these serve the training-data-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from mysql_cdc_to_http_spark.catalog import load_table
from mysql_cdc_to_http_spark.operators import caching
from mysql_cdc_to_http_spark.queries.registry import query
from mysql_cdc_to_http_spark.queries.curation import (  # noqa: E402
    _KAPPA_STOPS_SQL as _KAPPA_STOPS_SQL_REF,
)

# Shared tokenizer (identical to the X39/X246 family).
_TOK_SQL = (
    r"string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')"
)


def _tokens(docs: DataFrame) -> DataFrame:
    """(source, w) exploded token stream — one scan, never re-derived."""
    return docs.select(
        "source",
        F.explode(
            F.split(
                F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")),
                " ",
            )
        ).alias("w"),
    )


# --------------------------------------------------------------------------
# X355 — Dunning G² keyness: which terms are most OVER-represented in
# each source vs the rest of the corpus (the log-likelihood-ratio
# keyword statistic — the corpus-linguistics standard that, unlike
# X196 fightin'-words z or plain tf-idf, is valid at low counts).
# G² = 2·[a·ln(a/E_a) + b·ln(b/E_b)] over the 2×2 (term, source)
# table; zero cells contribute 0.
# --------------------------------------------------------------------------
@query(
    "q_g2_keyness",
    oracle=rf"""
    WITH tok AS (
      SELECT source, unnest({_TOK_SQL}) AS w FROM documents
    ),
    sc AS (
      SELECT source, w, CAST(count(*) AS HUGEINT) AS a
      FROM tok GROUP BY 1, 2
    ),
    tot AS (SELECT w, CAST(sum(a) AS HUGEINT) AS cw FROM sc GROUP BY w),
    st AS (SELECT source, CAST(sum(a) AS HUGEINT) AS n1 FROM sc GROUP BY 1),
    nn AS (SELECT CAST(sum(a) AS HUGEINT) AS nt FROM sc),
    g AS (
      SELECT sc.source, sc.w, a, cw - a AS b, n1, nt - n1 AS n2, cw, nt,
             -- milli-quantized ln per exact integer (X300 rule):
             -- a·ln(a·nt/(n1·cw)) = a·[L(a)+L(nt)-L(n1)-L(cw)]
             CAST(2 * (
               a * (round(ln(CAST(a AS DOUBLE)) * 1000)
                    + round(ln(CAST(nt AS DOUBLE)) * 1000)
                    - round(ln(CAST(n1 AS DOUBLE)) * 1000)
                    - round(ln(CAST(cw AS DOUBLE)) * 1000))
               + CASE WHEN cw - a = 0 THEN 0 ELSE
                 (cw - a) * (round(ln(CAST(cw - a AS DOUBLE)) * 1000)
                    + round(ln(CAST(nt AS DOUBLE)) * 1000)
                    - round(ln(CAST(nt - n1 AS DOUBLE)) * 1000)
                    - round(ln(CAST(cw AS DOUBLE)) * 1000)) END
             ) AS HUGEINT) AS g2m
      FROM sc JOIN tot USING (w) CROSS JOIN nn
      JOIN st ON st.source = sc.source
      WHERE a >= 5
        -- keyness = over-use: a/n1 > (cw-a)/n2, cross-multiplied
        AND a * (nt - n1) > (cw - a) * n1
    ),
    rk AS (
      SELECT source, w AS term, CAST(a AS BIGINT) AS c_in,
             CAST(b AS BIGINT) AS c_rest,
             CAST(g2m AS BIGINT) AS g2_milli,
             row_number() OVER (PARTITION BY source
                                ORDER BY g2m DESC, w) AS rk
      FROM g
    )
    SELECT source, term, c_in, c_rest, g2_milli
    FROM rk WHERE rk <= 20
    ORDER BY source, g2_milli DESC, term
    """,
)
def q_g2_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X355 — top-20 Dunning log-likelihood (G²) key terms per source.

    Exactness: all five table margins are exact integer aggregates;
    each ln is milli-quantized per distinct integer value (the
    X300/X281 rule — one transcendental per count, round absorbs the
    JVM-vs-libm ulp, everything after is BIGINT arithmetic), so
    G²_milli is a deterministic integer on both engines; zero b-cells
    contribute exactly 0 via the shared CASE; the over-use gate is a
    cross-multiplied integer inequality (no rate division). Scale
    shape: one fact-sized token aggregate (map-side combined), then
    vocab-sized joins against broadcast margins; the df>=5 +
    over-use gates prune before ranking, and the top-20 window is
    per-source bounded. Presentation sort is 20·sources rows
    (allowlist class a)."""
    docs = load_table(spark, sf_dir, "documents")
    sc = (
        _tokens(docs)
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("a"))
    )
    tot = sc.groupBy("w").agg(
        F.sum("a").cast("decimal(38,0)").alias("cw")
    )
    st = sc.groupBy("source").agg(
        F.sum("a").cast("decimal(38,0)").alias("n1")
    )
    nn = sc.agg(F.sum("a").cast("decimal(38,0)").alias("nt"))
    lnm = "round(ln(CAST({x} AS DOUBLE)) * 1000)"
    g = (
        sc.join(tot, "w")
        .join(F.broadcast(st), "source")
        .crossJoin(F.broadcast(nn))
        .filter(
            (F.col("a") >= 5)
            & (
                F.col("a") * (F.col("nt") - F.col("n1"))
                > (F.col("cw") - F.col("a")) * F.col("n1")
            )
        )
        .select(
            "source",
            F.col("w").alias("term"),
            F.col("a").cast("long").alias("c_in"),
            (F.col("cw") - F.col("a")).cast("long").alias("c_rest"),
            F.expr(
                "CAST(2 * ("
                f" a * ({lnm.format(x='a')} + {lnm.format(x='nt')}"
                f"      - {lnm.format(x='n1')} - {lnm.format(x='cw')})"
                " + CASE WHEN cw - a = 0 THEN 0 ELSE"
                f"   (cw - a) * ({lnm.format(x='cw - a')}"
                f"      + {lnm.format(x='nt')} - {lnm.format(x='nt - n1')}"
                f"      - {lnm.format(x='cw')}) END"
                ") AS DECIMAL(38,0))"
            ).alias("g2m"),
        )
    )
    from pyspark.sql.window import Window as W

    rk = g.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("source").orderBy(F.desc("g2m"), "term")
        ),
    ).filter(F.col("rk") <= 20)
    return rk.select(
        "source",
        "term",
        "c_in",
        "c_rest",
        F.col("g2m").cast("long").alias("g2_milli"),
    ).orderBy("source", F.desc("g2_milli"), "term")


# --------------------------------------------------------------------------
# X356 — Chao1 vocabulary-richness estimate per source: V + f1²-style
# unseen-species correction from singleton/doubleton counts, plus
# Good's coverage 1 − f1/N — "how much vocabulary does this source
# still hide?", the sampling-adequacy gate before committing a
# tokenizer budget (X204 fertility / X229 vocab growth companions).
# --------------------------------------------------------------------------
@query(
    "q_chao1_richness",
    oracle=rf"""
    WITH tok AS (
      SELECT source, unnest({_TOK_SQL}) AS w FROM documents
    ),
    tc AS (
      SELECT source, w, CAST(count(*) AS HUGEINT) AS c
      FROM tok GROUP BY 1, 2
    ),
    agg AS (
      SELECT source,
             CAST(count(*) AS HUGEINT) AS v_obs,
             CAST(sum(c) AS HUGEINT) AS n_tokens,
             CAST(count(*) FILTER (c = 1) AS HUGEINT) AS f1,
             CAST(count(*) FILTER (c = 2) AS HUGEINT) AS f2
      FROM tc GROUP BY source
    )
    SELECT source,
           CAST(v_obs AS BIGINT) AS v_obs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(f1 AS BIGINT) AS f1,
           CAST(f2 AS BIGINT) AS f2,
           CAST(v_obs * 1000000
                + f1 * (f1 - 1) * 1000000 // (2 * (f2 + 1))
                AS BIGINT) AS chao1_micro,
           CAST(1000000 - f1 * 1000000 // n_tokens AS BIGINT)
             AS coverage_micro
    FROM agg ORDER BY source
    """,
)
def q_chao1_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X356 — bias-corrected Chao1 richness + Good's coverage per
    source: chao1 = V + f1(f1−1)/(2(f2+1)), coverage = 1 − f1/N.

    Exactness: V, N, f1, f2 are exact integer aggregates; both
    divisions are single truncated micro-presentations over
    non-negative DECIMAL(38) products (the f2+1 form is the standard
    bias correction AND makes the denominator never zero). Scale
    shape: one fact-sized (source, term) aggregate with map-side
    partials, then a source-sized moment row; output ≤ #sources."""
    docs = load_table(spark, sf_dir, "documents")
    tc = (
        _tokens(docs)
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("c"))
    )
    agg = tc.groupBy("source").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("v_obs"),
        F.sum("c").cast("decimal(38,0)").alias("n_tokens"),
        F.sum((F.col("c") == 1).cast("int"))
        .cast("decimal(38,0)")
        .alias("f1"),
        F.sum((F.col("c") == 2).cast("int"))
        .cast("decimal(38,0)")
        .alias("f2"),
    )
    return agg.select(
        "source",
        F.col("v_obs").cast("long").alias("v_obs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("f1").cast("long").alias("f1"),
        F.col("f2").cast("long").alias("f2"),
        F.expr(
            "CAST(v_obs * 1000000"
            " + f1 * (f1 - 1) * 1000000 div (2 * (f2 + 1))"
            " AS BIGINT)"
        ).alias("chao1_micro"),
        F.expr(
            "CAST(1000000 - f1 * 1000000 div n_tokens AS BIGINT)"
        ).alias("coverage_micro"),
    ).orderBy("source")


# --------------------------------------------------------------------------
# X357 — Good–Turing count-of-counts over corpus trigrams: N_r, r = 1..10 and the
# smoothed r* = (r+1)·N_{r+1}/N_r — the unseen-mass discipline behind
# Katz backoff and the classic estimate of how much probability a
# corpus LM must reserve for unseen n-grams (p0 = N_1/N).
# --------------------------------------------------------------------------
@query(
    "q_good_turing",
    oracle=rf"""
    WITH tok AS (SELECT {_TOK_SQL} AS t FROM documents),
    tg AS (
      SELECT t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS w
      FROM tok, unnest(range(1, len(t) - 1)) AS r(i)
      WHERE len(t) >= 3
    ),
    tc AS (SELECT w, CAST(count(*) AS HUGEINT) AS r FROM tg GROUP BY w),
    nn AS (SELECT CAST(sum(r) AS HUGEINT) AS n FROM tc),
    cc AS (
      SELECT r, CAST(count(*) AS HUGEINT) AS nr
      FROM tc WHERE r <= 11 GROUP BY r
    )
    SELECT CAST(a.r AS BIGINT) AS r,
           CAST(a.nr AS BIGINT) AS n_r,
           CAST(CASE WHEN b.nr IS NULL THEN NULL
                ELSE (a.r + 1) * b.nr * 1000000 // a.nr END AS BIGINT)
             AS r_star_micro,
           CAST(a.r * a.nr * 1000000 // nn.n AS BIGINT) AS mass_micro
    FROM cc a LEFT JOIN cc b ON b.r = a.r + 1
    CROSS JOIN nn
    WHERE a.r <= 10
    ORDER BY r
    """,
)
def q_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X357 — Good–Turing smoothing table over TRIGRAM frequencies:
    r* = (r+1)·N_{r+1}/N_r for r = 1..10 plus each r's share of the
    token mass (r·N_r/N; the r=1 row IS the unseen-mass reserve).

    Trigrams (not unigrams) because Good–Turing lives on the RARE
    tail — the synthetic vocabulary has no term below frequency ~26,
    but 16k+ trigram types sit at r <= 11 at every SF.

    Exactness: frequencies and counts-of-counts are exact integers;
    r* and the mass share are single truncated micro divisions of
    non-negative DECIMAL(38) products; the N_{r+1} lookup is a
    bounded self-join (never a window over an unpartitioned frame).
    Scale shape: one fact-sized token aggregate, one vocab-sized
    count-of-counts aggregate, then an 11-row join. Output 10 rows."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.split(
            F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
        ).alias("t")
    )
    tc = (
        toks.filter(F.size("t") >= 3)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 3), i ->"
                    " concat_ws(' ', t[i], t[i + 1], t[i + 2]))"
                )
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("r"))
    )
    nn = tc.agg(F.sum("r").cast("decimal(38,0)").alias("n"))
    cc = (
        tc.filter(F.col("r") <= 11)
        .groupBy("r")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("nr"))
    )
    b = cc.select(
        (F.col("r") - 1).alias("r_join"), F.col("nr").alias("nr_next")
    )
    return (
        cc.filter(F.col("r") <= 10)
        .join(b, F.col("r") == F.col("r_join"), "left")
        .crossJoin(F.broadcast(nn))
        .select(
            F.col("r").cast("long").alias("r"),
            F.col("nr").cast("long").alias("n_r"),
            F.expr(
                "CAST(CASE WHEN nr_next IS NULL THEN NULL"
                " ELSE (r + 1) * nr_next * 1000000 div nr END AS BIGINT)"
            ).alias("r_star_micro"),
            F.expr(
                "CAST(r * nr * 1000000 div n AS BIGINT)"
            ).alias("mass_micro"),
        )
        .orderBy("r")
    )


# --------------------------------------------------------------------------
# X358 — delta-method SE of a ratio metric (revenue per event, per
# user) by event type: THE standard error every experimentation
# platform needs for per-user ratio metrics, where naive row-level
# variance is wrong because the denominator is random too.
# Var(X̄/Ȳ) ≈ (Sxx − 2R·Sxy + R²·Syy) / (n·Ȳ²) over per-user sums.
# --------------------------------------------------------------------------
@query(
    "q_delta_method",
    oracle="""
    WITH per_user AS (
      SELECT event_type, user_id,
             CAST(sum(CAST(round(value * 100, 0) AS HUGEINT))
                  AS HUGEINT) AS x,
             CAST(count(*) AS HUGEINT) AS y
      FROM events GROUP BY 1, 2
    ),
    mo AS (
      SELECT event_type,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx,
             CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(x * x) AS HUGEINT) AS sxx,
             CAST(sum(x * y) AS HUGEINT) AS sxy,
             CAST(sum(y * y) AS HUGEINT) AS syy
      FROM per_user GROUP BY 1
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_users,
           CAST(sx * 10000 // sy AS BIGINT) AS ratio_micro,
           CAST(CASE WHEN n >= 2 THEN floor(
             sqrt(greatest(
               ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                   * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                - 2.0 * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                  * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                     * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                + (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                  * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                  * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
                     * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
               / (CAST(n AS DOUBLE) - 1.0), 0.0))
             / (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
             / sqrt(CAST(n AS DOUBLE)) * 10000.0) END AS BIGINT)
             AS se_micro
    FROM mo ORDER BY event_type
    """,
)
def q_delta_method(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X358 — delta-method standard error of revenue-per-event by
    type, over per-user (Σcents, count) pairs.

    Exactness: per-user sums and all six moments are exact DECIMAL(38)
    integers (map-side combined); the point ratio is one truncated
    integer division (cents → micro is ×10000); the SE is a single
    identical-input double expression over those integers — every
    operation is IEEE-correctly-rounded arithmetic (no
    transcendentals except sqrt, which IEEE 754 rounds correctly), so
    both engines compute the SAME double, floored to integer micro
    (the X352 floor-of-identical-double idiom; greatest(...,0) guards
    FP-negative variance on degenerate fixtures). Scale shape: one
    fact-sized per-user aggregate, one type-sized moment row."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.sum(F.expr("CAST(round(value * 100, 0) AS DECIMAL(38,0))"))
        .cast("decimal(38,0)")
        .alias("x"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("y"),
    )
    mo = per_user.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.expr("x * x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.expr("x * y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.expr("y * y")).cast("decimal(38,0)").alias("syy"),
    )
    return mo.select(
        "event_type",
        F.col("n").cast("long").alias("n_users"),
        F.expr("CAST(sx * 10000 div sy AS BIGINT)").alias("ratio_micro"),
        F.expr(
            "CAST(CASE WHEN n >= 2 THEN floor("
            " sqrt(greatest("
            "   ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)"
            "       * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
            "    - CAST(2.0 AS DOUBLE) * (CAST(sx AS DOUBLE)"
            "      / CAST(sy AS DOUBLE))"
            "      * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)"
            "         * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
            "    + (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))"
            "      * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))"
            "      * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)"
            "         * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))"
            "   / (CAST(n AS DOUBLE) - CAST(1.0 AS DOUBLE)),"
            "   CAST(0.0 AS DOUBLE)))"
            " / (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
            " / sqrt(CAST(n AS DOUBLE))"
            " * CAST(10000.0 AS DOUBLE)) END AS BIGINT)"
        ).alias("se_micro"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# X359 — deterministic permutation test (approximate randomization,
# B = 32) of mean event value: purchases vs everything else. The
# label-shuffle companion of the X333 Poisson bootstrap — same
# md5-uniform machinery, opposite question (is the observed gap
# bigger than label-noise?).
# --------------------------------------------------------------------------
_PERM_B = 32
_PERM_SALT = "perm-v1"


@query(
    "q_permutation_test",
    oracle=f"""
    WITH base AS (
      SELECT event_id,
             CAST(round(value * 100, 0) AS HUGEINT) AS cents,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS grp
      FROM events
    ),
    obs AS (
      SELECT CAST(sum(CASE WHEN grp = 1 THEN cents END) AS HUGEINT) AS s1,
             CAST(count(*) FILTER (grp = 1) AS HUGEINT) AS n1,
             CAST(sum(CASE WHEN grp = 0 THEN cents END) AS HUGEINT) AS s0,
             CAST(count(*) FILTER (grp = 0) AS HUGEINT) AS n0
      FROM base
    ),
    thr AS (
      SELECT CAST(n1 * 1152921504606846976 // (n1 + n0) AS HUGEINT)
               AS cutoff
      FROM obs
    ),
    reps AS (
      SELECT b,
             CASE WHEN CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)
                    || '|' || CAST(b AS VARCHAR) || '|{_PERM_SALT}'),
                    1, 15))::BIGINT AS HUGEINT) < cutoff
                  THEN 1 ELSE 0 END AS pg,
             cents
      FROM base CROSS JOIN thr, unnest(range({_PERM_B})) AS r(b)
    ),
    rstat AS (
      SELECT b,
             CAST(sum(CASE WHEN pg = 1 THEN cents END) AS HUGEINT) AS s1,
             CAST(count(*) FILTER (pg = 1) AS HUGEINT) AS n1,
             CAST(sum(CASE WHEN pg = 0 THEN cents END) AS HUGEINT) AS s0,
             CAST(count(*) FILTER (pg = 0) AS HUGEINT) AS n0
      FROM reps GROUP BY b
    ),
    tobs AS (
      SELECT s1 * 10000 // n1 - s0 * 10000 // n0 AS t FROM obs
    ),
    tb AS (
      SELECT b, CASE WHEN n1 = 0 OR n0 = 0 THEN NULL
                ELSE s1 * 10000 // n1 - s0 * 10000 // n0 END AS t
      FROM rstat
    )
    SELECT CAST(obs.n1 AS BIGINT) AS n_treat,
           CAST(obs.n0 AS BIGINT) AS n_control,
           CAST(tobs.t AS BIGINT) AS t_obs_micro,
           CAST((SELECT count(*) FROM tb
                 WHERE t IS NOT NULL AND abs(t) >= abs(tobs.t))
                AS BIGINT) AS n_extreme,
           CAST((1 + (SELECT count(*) FROM tb
                      WHERE t IS NOT NULL AND abs(t) >= abs(tobs.t)))
                * 1000 // ({_PERM_B} + 1) AS BIGINT) AS p_milli
    FROM obs CROSS JOIN tobs
    """,
)
def q_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X359 — approximate-randomization test: the observed
    purchase-vs-rest mean-cents gap against B=32 md5-relabelled
    replicates; p = (1 + #extreme) / (B + 1).

    Exactness: the md5-uniform is compared against an integer cutoff
    n1·2⁶⁰/(n1+n0) — an all-integer Bernoulli(n1/n) draw, no doubles
    anywhere; replicate means are truncated integer micro divisions
    and the extremeness comparison |t_b| >= |t| is exact integer.
    Degenerate replicates (a side empty) are excluded identically on
    both engines. Scale shape: the 32× expansion feeds a map-side
    combined per-b aggregate (the X333 fan-out: shuffle carries 32·2
    partials, never 32× the facts), repartitioned before the explode
    for local parallelism. Output is 1 row."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        F.expr("CAST(round(value * 100, 0) AS DECIMAL(38,0))").alias(
            "cents"
        ),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("grp"),
    )
    obs = base.agg(
        F.sum(F.when(F.col("grp") == 1, F.col("cents")))
        .cast("decimal(38,0)")
        .alias("s1"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("n1"),
        F.sum(F.when(F.col("grp") == 0, F.col("cents")))
        .cast("decimal(38,0)")
        .alias("s0"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("n0"),
    )
    thr = obs.select(
        F.expr(
            "CAST(n1 * 1152921504606846976 div (n1 + n0)"
            " AS DECIMAL(38,0))"
        ).alias("cutoff")
    )
    reps = (
        base.repartition(spark.sparkContext.defaultParallelism)
        .crossJoin(F.broadcast(thr))
        .withColumn(
            "b", F.explode(F.sequence(F.lit(0), F.lit(_PERM_B - 1)))
        )
        .withColumn(
            "pg",
            F.expr(
                f"CASE WHEN CAST(conv(substr(md5(CAST(event_id AS STRING)"
                f" || '|' || CAST(b AS STRING) || '|{_PERM_SALT}'),"
                f" 1, 15), 16, 10) AS DECIMAL(38,0)) < cutoff"
                " THEN 1 ELSE 0 END"
            ),
        )
    )
    rstat = reps.groupBy("b").agg(
        F.sum(F.when(F.col("pg") == 1, F.col("cents")))
        .cast("decimal(38,0)")
        .alias("s1"),
        F.sum(F.when(F.col("pg") == 1, 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("n1"),
        F.sum(F.when(F.col("pg") == 0, F.col("cents")))
        .cast("decimal(38,0)")
        .alias("s0"),
        F.sum(F.when(F.col("pg") == 0, 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("n0"),
    )
    tb = rstat.select(
        F.expr(
            "CASE WHEN n1 = 0 OR n0 = 0 THEN NULL"
            " ELSE s1 * 10000 div n1 - s0 * 10000 div n0 END"
        ).alias("t")
    )
    tobs = obs.select(
        F.col("n1").cast("long").alias("n_treat"),
        F.col("n0").cast("long").alias("n_control"),
        F.expr(
            "CAST(s1 * 10000 div n1 - s0 * 10000 div n0 AS DECIMAL(38,0))"
        ).alias("t"),
    )
    extreme = (
        tb.crossJoin(F.broadcast(tobs.select(F.col("t").alias("t_o"))))
        .filter(F.col("t").isNotNull())
        .agg(
            F.sum(
                (F.abs(F.col("t")) >= F.abs(F.col("t_o"))).cast("int")
            )
            .cast("decimal(38,0)")
            .alias("n_ext")
        )
    )
    return tobs.crossJoin(F.broadcast(extreme)).select(
        "n_treat",
        "n_control",
        F.col("t").cast("long").alias("t_obs_micro"),
        F.col("n_ext").cast("long").alias("n_extreme"),
        F.expr(
            f"CAST((1 + n_ext) * 1000 div ({_PERM_B} + 1) AS BIGINT)"
        ).alias("p_milli"),
    )


# --------------------------------------------------------------------------
# X360 — Cohen's h effect size between the two md5 split-hash cohorts,
# per event type: h = 2·asin(√p_A) − 2·asin(√p_B) on the
# high-value-event rate — the proportion-scale effect size that,
# unlike a raw rate difference, is comparable across base rates (the
# power-analysis companion of X294's disparate-impact ratio).
# --------------------------------------------------------------------------
@query(
    "q_cohens_h",
    oracle="""
    WITH tagged AS (
      SELECT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
               ::BIGINT % 2 AS cohort,
             CASE WHEN value >= 100 THEN 1 ELSE 0 END AS hi
      FROM events
    ),
    rates AS (
      SELECT event_type,
             CAST(sum(CASE WHEN cohort = 0 THEN hi END) AS HUGEINT) AS k0,
             CAST(count(*) FILTER (cohort = 0) AS HUGEINT) AS n0,
             CAST(sum(CASE WHEN cohort = 1 THEN hi END) AS HUGEINT) AS k1,
             CAST(count(*) FILTER (cohort = 1) AS HUGEINT) AS n1
      FROM tagged GROUP BY 1
    )
    SELECT event_type,
           CAST(n0 AS BIGINT) AS n_a, CAST(n1 AS BIGINT) AS n_b,
           CAST(k0 * 1000000 // n0 AS BIGINT) AS p_a_micro,
           CAST(k1 * 1000000 // n1 AS BIGINT) AS p_b_micro,
           CAST(CASE WHEN n0 > 0 AND n1 > 0 THEN round(
             (2.0 * asin(sqrt(CAST(k0 AS DOUBLE) / CAST(n0 AS DOUBLE)))
              - 2.0 * asin(sqrt(CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE))))
             * 1000000) END AS BIGINT) AS h_micro
    FROM rates ORDER BY event_type
    """,
)
def q_cohens_h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X360 — Cohen's h between split-hash cohorts on the P(value>=100)
    rate per event type.

    Exactness: cohort assignment is the shared 15-hex md5 integer mod
    2 (all-integer); counts are exact; the rates cast to identical
    doubles, and h is asin/sqrt arithmetic on those — sqrt is
    IEEE-correctly-rounded; asin is the one data-dependent
    transcendental, behind the same micro round the X98 PSI family
    uses for its data-dependent ln (ulp ≪ round cell; swept at 3
    SFs). The integer rate presentations are truncated micro. Scale
    shape: one scan → type-sized aggregate → constant arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    tagged = ev.select(
        "event_type",
        F.expr(
            "CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 15),"
            " 16, 10) AS BIGINT) % 2"
        ).alias("cohort"),
        F.when(F.col("value") >= 100, 1).otherwise(0).alias("hi"),
    )
    rates = tagged.groupBy("event_type").agg(
        F.sum(F.when(F.col("cohort") == 0, F.col("hi")))
        .cast("decimal(38,0)")
        .alias("k0"),
        F.sum(F.when(F.col("cohort") == 0, 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("n0"),
        F.sum(F.when(F.col("cohort") == 1, F.col("hi")))
        .cast("decimal(38,0)")
        .alias("k1"),
        F.sum(F.when(F.col("cohort") == 1, 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("n1"),
    )
    return rates.select(
        "event_type",
        F.col("n0").cast("long").alias("n_a"),
        F.col("n1").cast("long").alias("n_b"),
        F.expr("CAST(k0 * 1000000 div n0 AS BIGINT)").alias("p_a_micro"),
        F.expr("CAST(k1 * 1000000 div n1 AS BIGINT)").alias("p_b_micro"),
        F.expr(
            "CAST(CASE WHEN n0 > 0 AND n1 > 0 THEN round("
            " (CAST(2.0 AS DOUBLE)"
            "    * asin(sqrt(CAST(k0 AS DOUBLE) / CAST(n0 AS DOUBLE)))"
            "  - CAST(2.0 AS DOUBLE)"
            "    * asin(sqrt(CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE))))"
            " * 1000000) END AS BIGINT)"
        ).alias("h_micro"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# X361 — partial correlation of daily revenue and purchase count,
# controlling for daily view volume: r_xy·z — does revenue track
# purchases beyond what overall traffic explains? The
# confounder-aware companion of X310 (lead-lag) and X326 (Spearman).
# --------------------------------------------------------------------------
@query(
    "q_partial_corr",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(sum(CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100, 0) AS HUGEINT)
                  ELSE 0 END) AS HUGEINT) AS x,
             CAST(count(*) FILTER (event_type = 'purchase')
                  AS HUGEINT) AS y,
             CAST(count(*) FILTER (event_type = 'view') AS HUGEINT) AS z
      FROM events GROUP BY 1
    ),
    mo AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx,
             CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(z) AS HUGEINT) AS sz,
             CAST(sum(x * x) AS HUGEINT) AS sxx,
             CAST(sum(y * y) AS HUGEINT) AS syy,
             CAST(sum(z * z) AS HUGEINT) AS szz,
             CAST(sum(x * y) AS HUGEINT) AS sxy,
             CAST(sum(x * z) AS HUGEINT) AS sxz,
             CAST(sum(y * z) AS HUGEINT) AS syz
      FROM daily
    ),
    r AS (
      SELECT n,
        CAST(n * sxy - sx * sy AS DOUBLE)
          / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                 * CAST(n * syy - sy * sy AS DOUBLE)) AS rxy,
        CAST(n * sxz - sx * sz AS DOUBLE)
          / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                 * CAST(n * szz - sz * sz AS DOUBLE)) AS rxz,
        CAST(n * syz - sy * sz AS DOUBLE)
          / sqrt(CAST(n * syy - sy * sy AS DOUBLE)
                 * CAST(n * szz - sz * sz AS DOUBLE)) AS ryz
      FROM mo
      WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        AND n * szz - sz * sz > 0
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(round(rxy * 1000000) AS BIGINT) AS r_xy_micro,
           CAST(round(rxz * 1000000) AS BIGINT) AS r_xz_micro,
           CAST(round(ryz * 1000000) AS BIGINT) AS r_yz_micro,
           CAST(CASE WHEN (1.0 - rxz * rxz) * (1.0 - ryz * ryz) > 0
                THEN round((rxy - rxz * ryz)
                  / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz))
                  * 1000000) END AS BIGINT) AS partial_micro
    FROM r
    """,
)
def q_partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X361 — r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) over
    the daily (revenue, purchases, views) series.

    Exactness: all ten moments are exact DECIMAL(38) integers over
    exact daily cents/counts; each pairwise r is one identical-input
    double expression (sqrt only — IEEE-correctly-rounded), and the
    partial formula reuses exactly those doubles, so both engines
    compute the SAME double behind the micro round; degenerate
    variances drop the row via the shared integer guard. Scale shape:
    one fact-sized daily aggregate (map-side combined) → 1 moment
    row → constant arithmetic. Output <= 1 row."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.expr("CAST(round(value * 100, 0) AS DECIMAL(38,0))"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        )
        .cast("decimal(38,0)")
        .alias("x"),
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("decimal(38,0)")
        .alias("y"),
        F.sum((F.col("event_type") == "view").cast("int"))
        .cast("decimal(38,0)")
        .alias("z"),
    )
    mo = daily.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum("z").cast("decimal(38,0)").alias("sz"),
        F.sum(F.expr("x * x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.expr("y * y")).cast("decimal(38,0)").alias("syy"),
        F.sum(F.expr("z * z")).cast("decimal(38,0)").alias("szz"),
        F.sum(F.expr("x * y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.expr("x * z")).cast("decimal(38,0)").alias("sxz"),
        F.sum(F.expr("y * z")).cast("decimal(38,0)").alias("syz"),
    )
    r = mo.filter(
        F.expr(
            "n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0"
            " AND n * szz - sz * sz > 0"
        )
    ).select(
        "n",
        F.expr(
            "CAST(n * sxy - sx * sy AS DOUBLE)"
            " / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)"
            "        * CAST(n * syy - sy * sy AS DOUBLE))"
        ).alias("rxy"),
        F.expr(
            "CAST(n * sxz - sx * sz AS DOUBLE)"
            " / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)"
            "        * CAST(n * szz - sz * sz AS DOUBLE))"
        ).alias("rxz"),
        F.expr(
            "CAST(n * syz - sy * sz AS DOUBLE)"
            " / sqrt(CAST(n * syy - sy * sy AS DOUBLE)"
            "        * CAST(n * szz - sz * sz AS DOUBLE))"
        ).alias("ryz"),
    )
    return r.select(
        F.col("n").cast("long").alias("n_days"),
        F.expr("CAST(round(rxy * 1000000) AS BIGINT)").alias(
            "r_xy_micro"
        ),
        F.expr("CAST(round(rxz * 1000000) AS BIGINT)").alias(
            "r_xz_micro"
        ),
        F.expr("CAST(round(ryz * 1000000) AS BIGINT)").alias(
            "r_yz_micro"
        ),
        F.expr(
            "CAST(CASE WHEN (CAST(1.0 AS DOUBLE) - rxz * rxz)"
            " * (CAST(1.0 AS DOUBLE) - ryz * ryz) > 0"
            " THEN round((rxy - rxz * ryz)"
            "   / sqrt((CAST(1.0 AS DOUBLE) - rxz * rxz)"
            "          * (CAST(1.0 AS DOUBLE) - ryz * ryz))"
            "   * 1000000) END AS BIGINT)"
        ).alias("partial_micro"),
    )


# --------------------------------------------------------------------------
# X362 — split-half reliability of per-user activity: Pearson r
# between each user's odd-day and even-day event counts, stepped up
# by Spearman–Brown 2r/(1+r) — "is per-user activity a stable trait
# or noise?", the X337 Cronbach companion computed from a data split
# instead of item covariances.
# --------------------------------------------------------------------------
@query(
    "q_split_half",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(count(*) FILTER (dayofyear(CAST(ts AS DATE)) % 2 = 1)
                  AS HUGEINT) AS a,
             CAST(count(*) FILTER (dayofyear(CAST(ts AS DATE)) % 2 = 0)
                  AS HUGEINT) AS b
      FROM events GROUP BY user_id
    ),
    mo AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(a) AS HUGEINT) AS sa,
             CAST(sum(b) AS HUGEINT) AS sb,
             CAST(sum(a * a) AS HUGEINT) AS saa,
             CAST(sum(a * b) AS HUGEINT) AS sab,
             CAST(sum(b * b) AS HUGEINT) AS sbb
      FROM per_user
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           CAST(CASE WHEN n * saa - sa * sa > 0
                      AND n * sbb - sb * sb > 0 THEN
             round(CAST(n * sab - sa * sb AS DOUBLE)
                   / sqrt(CAST(n * saa - sa * sa AS DOUBLE)
                          * CAST(n * sbb - sb * sb AS DOUBLE))
                   * 1000000) END AS BIGINT) AS r_micro,
           CAST(CASE WHEN n * saa - sa * sa > 0
                      AND n * sbb - sb * sb > 0 THEN
             round(2.0 * (CAST(n * sab - sa * sb AS DOUBLE)
                   / sqrt(CAST(n * saa - sa * sa AS DOUBLE)
                          * CAST(n * sbb - sb * sb AS DOUBLE)))
                   / (1.0 + CAST(n * sab - sa * sb AS DOUBLE)
                      / sqrt(CAST(n * saa - sa * sa AS DOUBLE)
                             * CAST(n * sbb - sb * sb AS DOUBLE)))
                   * 1000000) END AS BIGINT) AS spearman_brown_micro
    FROM mo
    """,
)
def q_split_half(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X362 — split-half reliability: Pearson r between per-user
    odd-day and even-day event counts, Spearman–Brown corrected.

    Exactness: the odd/even split keys on integer dayofyear parity
    (identical on both engines, UTC-pinned); the five moments are
    exact DECIMAL(38) integers; r and 2r/(1+r) are the same
    identical-input double expression on both sides behind micro
    rounds (sqrt only); degenerate variance emits NULL via the
    integer guard. Scale shape: fact-sized per-user aggregate →
    1-row moments → constant arithmetic. Output is 1 row."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            (F.expr("dayofyear(CAST(ts AS DATE)) % 2") == 1).cast("int")
        )
        .cast("decimal(38,0)")
        .alias("a"),
        F.sum(
            (F.expr("dayofyear(CAST(ts AS DATE)) % 2") == 0).cast("int")
        )
        .cast("decimal(38,0)")
        .alias("b"),
    )
    mo = per_user.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("a").cast("decimal(38,0)").alias("sa"),
        F.sum("b").cast("decimal(38,0)").alias("sb"),
        F.sum(F.expr("a * a")).cast("decimal(38,0)").alias("saa"),
        F.sum(F.expr("a * b")).cast("decimal(38,0)").alias("sab"),
        F.sum(F.expr("b * b")).cast("decimal(38,0)").alias("sbb"),
    )
    rnum = "CAST(n * sab - sa * sb AS DOUBLE)"
    rden = (
        "sqrt(CAST(n * saa - sa * sa AS DOUBLE)"
        " * CAST(n * sbb - sb * sb AS DOUBLE))"
    )
    guard = "n * saa - sa * sa > 0 AND n * sbb - sb * sb > 0"
    return mo.select(
        F.col("n").cast("long").alias("n_users"),
        F.expr(
            f"CAST(CASE WHEN {guard} THEN"
            f" round({rnum} / {rden} * 1000000) END AS BIGINT)"
        ).alias("r_micro"),
        F.expr(
            f"CAST(CASE WHEN {guard} THEN"
            f" round(CAST(2.0 AS DOUBLE) * ({rnum} / {rden})"
            f" / (CAST(1.0 AS DOUBLE) + {rnum} / {rden})"
            " * 1000000) END AS BIGINT)"
        ).alias("spearman_brown_micro"),
    )


# --------------------------------------------------------------------------
# X363 — Neyman (optimal) sample allocation: split a B = 10,000-row
# audit budget across event-type strata ∝ N_h·σ_h, with
# largest-remainder rounding so the allocations sum EXACTLY to B —
# what a labeling/QA budget should actually do instead of
# proportional allocation (which over-samples homogeneous strata).
# --------------------------------------------------------------------------
_NEYMAN_B = 10000


@query(
    "q_neyman_allocation",
    oracle=f"""
    WITH st AS (
      SELECT event_type,
             CAST(count(*) AS HUGEINT) AS nh,
             CAST(sum(CAST(round(value * 100, 0) AS HUGEINT))
                  AS HUGEINT) AS s1,
             CAST(sum(CAST(round(value * 100, 0) AS HUGEINT)
                      * CAST(round(value * 100, 0) AS HUGEINT))
                  AS HUGEINT) AS s2
      FROM events GROUP BY 1
    ),
    w AS (
      SELECT event_type, nh,
             CAST(round(CAST(nh AS DOUBLE) * sqrt(greatest(
               (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                  * CAST(s1 AS DOUBLE) / CAST(nh AS DOUBLE))
               / (CAST(nh AS DOUBLE) - 1.0), 0.0)) * 1e9, 0)
               AS HUGEINT) AS whn
      FROM st WHERE nh >= 2
    ),
    tot AS (
      SELECT CAST(sum(whn) AS HUGEINT) AS wtn,
             CAST(sum(nh) AS HUGEINT) AS nt
      FROM w
    ),
    fl AS (
      SELECT event_type, nh,
             CAST(whn * {_NEYMAN_B} // wtn AS HUGEINT) AS base,
             CAST(whn * {_NEYMAN_B}
                  - (whn * {_NEYMAN_B} // wtn) * wtn AS HUGEINT) AS rem,
             CAST(nh * {_NEYMAN_B} // nt AS HUGEINT) AS prop
      FROM w CROSS JOIN tot
    ),
    deficit AS (
      SELECT CAST({_NEYMAN_B} - sum(base) AS HUGEINT) AS d FROM fl
    ),
    rk AS (
      SELECT event_type, nh, base, rem, prop,
             row_number() OVER (ORDER BY rem DESC, event_type) AS r
      FROM fl
    )
    SELECT event_type,
           CAST(nh AS BIGINT) AS n_rows,
           CAST(prop AS BIGINT) AS alloc_proportional,
           CAST(base + CASE WHEN r <= d THEN 1 ELSE 0 END AS BIGINT)
             AS alloc_neyman
    FROM rk CROSS JOIN deficit
    ORDER BY event_type
    """,
)
def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X363 — Neyman allocation of a 10k audit budget across
    event-type strata (n_h ∝ N_h·σ_h), largest-remainder rounded to
    sum exactly to B; proportional allocation shown for contrast.

    Exactness (r15 ADVICE fix): stratum moments are exact integers;
    σ_h is identical-input double arithmetic (sqrt only) QUANTIZED
    per-stratum to nano-units (round(wh·1e9) — the bc_nano pattern)
    BEFORE summation, so the weight total is an exact integer sum
    (order-independent — a raw double Σwh depends on Spark's
    partial-aggregation order) and the share/floor/remainder algebra
    is pure integers: base = ⌊whn·B/wtn⌋ by integer div, remainder
    rank compares rem = whn·B − base·wtn (same denominator ⇒ same
    order as the fractional parts), top-up is an exact integer rank
    test (deterministic event_type tiebreak). Scale shape: one
    fact-sized stratum aggregate; everything after is #strata-sized
    (the remainder window sorts ~10 rows — allowlist class a).
    Σ(neyman) = B exactly by construction (pinned in tests)."""
    ev = load_table(spark, sf_dir, "events")
    st = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("nh"),
        F.sum(F.expr("CAST(round(value * 100, 0) AS DECIMAL(38,0))"))
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
    w = st.filter(F.col("nh") >= 2).select(
        "event_type",
        "nh",
        F.expr(
            "CAST(round(CAST(nh AS DOUBLE) * sqrt(greatest("
            " (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)"
            "    * CAST(s1 AS DOUBLE) / CAST(nh AS DOUBLE))"
            " / (CAST(nh AS DOUBLE) - CAST(1.0 AS DOUBLE)),"
            " CAST(0.0 AS DOUBLE))) * 1e9, 0) AS DECIMAL(38,0))"
        ).alias("whn"),
    )
    tot = w.agg(
        F.sum("whn").cast("decimal(38,0)").alias("wtn"),
        F.sum("nh").cast("decimal(38,0)").alias("nt"),
    )
    fl = w.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "nh",
        F.expr(
            f"CAST(whn * {_NEYMAN_B} div wtn AS DECIMAL(38,0))"
        ).alias("base"),
        F.expr(
            f"CAST(whn * {_NEYMAN_B}"
            f" - (whn * {_NEYMAN_B} div wtn) * wtn AS DECIMAL(38,0))"
        ).alias("rem"),
        F.expr(f"CAST(nh * {_NEYMAN_B} div nt AS DECIMAL(38,0))").alias(
            "prop"
        ),
    )
    deficit = fl.agg(
        F.expr(
            f"CAST({_NEYMAN_B} - sum(base) AS DECIMAL(38,0))"
        ).alias("d")
    )
    from pyspark.sql.window import Window as W

    rk = fl.withColumn(
        "r",
        F.row_number().over(W.orderBy(F.desc("rem"), "event_type")),
    )
    return (
        rk.crossJoin(F.broadcast(deficit))
        .select(
            "event_type",
            F.col("nh").cast("long").alias("n_rows"),
            F.col("prop").cast("long").alias("alloc_proportional"),
            F.expr(
                "CAST(base + CASE WHEN r <= d THEN 1 ELSE 0 END"
                " AS BIGINT)"
            ).alias("alloc_neyman"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# X364 — Page–Hinkley drift ledger on daily revenue per event type:
# m_t = Σ(x_i − x̄_i − δ) against its running minimum; alarm when the
# gap exceeds λ. The running-mean drift detector that fires on slow
# upward drifts X332's CUSUM-against-target misses (PH needs no
# target — it tracks its own mean).
# --------------------------------------------------------------------------
@query(
    "q_page_hinkley",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(sum(CAST(round(value * 100, 0) AS HUGEINT))
                  AS HUGEINT) AS x
      FROM events GROUP BY 1, 2
    ),
    seq AS (
      SELECT event_type, d, x,
             row_number() OVER (PARTITION BY event_type ORDER BY d)
               AS i,
             CAST(sum(x) OVER (PARTITION BY event_type ORDER BY d
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS HUGEINT) AS s
      FROM daily
    ),
    par AS (
      SELECT event_type,
             CAST(max(s) AS HUGEINT) AS stot,
             CAST(max(i) AS HUGEINT) AS ndays
      FROM seq GROUP BY event_type
    ),
    term AS (
      SELECT seq.event_type, d, i, x,
             x * 1000000 - s * 1000000 // i
               - (stot * 1000000 // ndays) // 100 AS t
      FROM seq JOIN par ON par.event_type = seq.event_type
    ),
    cum AS (
      SELECT event_type, d, i, x, t,
             CAST(sum(t) OVER (PARTITION BY event_type ORDER BY d
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS HUGEINT) AS m
      FROM term
    ),
    led AS (
      SELECT cum.event_type, d, i, x, m,
             CAST(min(m) OVER (PARTITION BY event_type ORDER BY d
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS HUGEINT) AS mmin
      FROM cum
    )
    SELECT led.event_type AS event_type, d,
           CAST(x AS BIGINT) AS cents,
           CAST(m - mmin AS BIGINT) AS ph_micro,
           m - mmin > (stot * 1000000 // ndays) // 5 AS alarm
    FROM led JOIN par ON par.event_type = led.event_type
    ORDER BY led.event_type, d
    """,
)
def q_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X364 — Page–Hinkley ledger: PH_t = M_t − min_{s<=t} M_s with
    M_t = Σ_{i<=t}(x_i·1e6 − mean_i_micro − δ), δ = 1% and λ = 20% of
    the series' own mean daily revenue.

    Exactness: x and all prefix sums are exact integers; mean_i and
    the δ/λ scale are truncated integer divisions of non-negative
    values (X216-safe); terms, cumulative sums and running minima are
    pure integer arithmetic — no doubles anywhere. Scale shape:
    fact-sized daily rollup, then three calendar-bounded keyed
    windows (the X332 CUSUM plan plus one running-mean division);
    ledger output is (types × days) (sort allowlist class a)."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(
        F.sum(F.expr("CAST(round(value * 100, 0) AS DECIMAL(38,0))"))
        .cast("decimal(38,0)")
        .alias("x")
    )
    wo = W.partitionBy("event_type").orderBy("d")
    wc = wo.rowsBetween(W.unboundedPreceding, W.currentRow)
    seq = daily.select(
        "event_type",
        "d",
        "x",
        F.row_number().over(wo).cast("decimal(38,0)").alias("i"),
        F.sum("x").over(wc).cast("decimal(38,0)").alias("s"),
    )
    par = seq.groupBy("event_type").agg(
        F.max("s").cast("decimal(38,0)").alias("stot"),
        F.max("i").cast("decimal(38,0)").alias("ndays"),
    )
    term = seq.join(par, "event_type").select(
        "event_type",
        "d",
        "x",
        F.expr(
            "CAST(x * 1000000 - s * 1000000 div i"
            " - (stot * 1000000 div ndays) div 100 AS DECIMAL(38,0))"
        ).alias("t"),
        F.expr(
            "CAST((stot * 1000000 div ndays) div 5 AS DECIMAL(38,0))"
        ).alias("lam"),
    )
    cum = term.select(
        "event_type",
        "d",
        "x",
        "lam",
        F.sum("t").over(wc).cast("decimal(38,0)").alias("m"),
    )
    led = cum.select(
        "event_type",
        "d",
        "x",
        "lam",
        "m",
        F.min("m").over(wc).cast("decimal(38,0)").alias("mmin"),
    )
    return led.select(
        "event_type",
        "d",
        F.col("x").cast("long").alias("cents"),
        (F.col("m") - F.col("mmin")).cast("long").alias("ph_micro"),
        (F.col("m") - F.col("mmin") > F.col("lam")).alias("alarm"),
    ).orderBy("event_type", "d")


# --------------------------------------------------------------------------
# X365 — segmented (two-piece) trend: OLS slope of daily revenue
# before vs after the calendar midpoint, next to the full-series
# slope — "did the trend CHANGE?", the structural-break companion of
# X127's single OLS and X308's known-date changepoint score.
# --------------------------------------------------------------------------
@query(
    "q_segmented_trend",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(sum(CAST(round(value * 100, 0) AS HUGEINT))
                  AS HUGEINT) AS x
      FROM events GROUP BY 1, 2
    ),
    span AS (SELECT min(d) AS d0 FROM daily),
    idx AS (
      SELECT event_type, datediff('day', d0, d) AS i, x
      FROM daily CROSS JOIN span
    ),
    par AS (SELECT CAST(max(i) // 2 AS BIGINT) AS knot FROM idx),
    seg AS (
      SELECT event_type,
             CASE WHEN i < knot THEN 0 ELSE 1 END AS seg,
             CAST(i AS HUGEINT) AS i, x
      FROM idx CROSS JOIN par
    ),
    mo AS (
      SELECT event_type, seg,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(i) AS HUGEINT) AS si,
             CAST(sum(x) AS HUGEINT) AS sx,
             CAST(sum(i * i) AS HUGEINT) AS sii,
             CAST(sum(i * x) AS HUGEINT) AS six
      FROM seg GROUP BY 1, 2
    ),
    full_mo AS (
      SELECT event_type,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(i) AS HUGEINT) AS si,
             CAST(sum(x) AS HUGEINT) AS sx,
             CAST(sum(i * i) AS HUGEINT) AS sii,
             CAST(sum(i * x) AS HUGEINT) AS six
      FROM seg GROUP BY 1
    ),
    sl AS (
      SELECT event_type, seg,
             CASE WHEN n * sii - si * si > 0 THEN
               round(CAST(n * six - si * sx AS DOUBLE)
                     / CAST(n * sii - si * si AS DOUBLE) * 1000000)
             END AS slope, n
      FROM mo
    )
    SELECT a.event_type AS event_type,
           CAST(a.n AS BIGINT) AS n_pre,
           CAST(b.n AS BIGINT) AS n_post,
           CAST(a.slope AS BIGINT) AS slope_pre_micro,
           CAST(b.slope AS BIGINT) AS slope_post_micro,
           CAST(CASE WHEN f.n * f.sii - f.si * f.si > 0 THEN
             round(CAST(f.n * f.six - f.si * f.sx AS DOUBLE)
                   / CAST(f.n * f.sii - f.si * f.si AS DOUBLE)
                   * 1000000) END AS BIGINT) AS slope_full_micro
    FROM sl a
    JOIN sl b ON b.event_type = a.event_type AND b.seg = 1
    JOIN full_mo f ON f.event_type = a.event_type
    WHERE a.seg = 0
    ORDER BY a.event_type
    """,
)
def q_segmented_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X365 — two-piece OLS: cents/day slope before vs after the
    calendar-midpoint knot, plus the pooled slope, per event type.

    Exactness: day indices are integers off the global min date
    (1-row broadcast); all five OLS moments per (type, segment) are
    exact DECIMAL(38) integers; each slope is ONE identical-input
    double division behind a micro round; degenerate segments (one
    day) emit NULL via the integer variance guard; the knot is an
    integer div of a non-negative index. Scale shape: fact-sized
    daily rollup → (type × 2)-sized moments → constant arithmetic.
    Output ≤ #types rows (sort allowlist class a)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(
        F.sum(F.expr("CAST(round(value * 100, 0) AS DECIMAL(38,0))"))
        .cast("decimal(38,0)")
        .alias("x")
    )
    span = daily.agg(F.min("d").alias("d0"))
    idx = daily.crossJoin(F.broadcast(span)).select(
        "event_type", F.datediff("d", "d0").alias("i"), "x"
    )
    par = idx.agg(
        F.expr("CAST(max(i) div 2 AS BIGINT)").alias("knot")
    )
    # r16 (guide §2.4/§5): the per-segment moments (evaluated once per
    # output side), the pooled moments and the knot derivation each
    # re-derived the segmented series — and the fact-sized daily
    # rollup under it — per consumer (measured plan: 21 Exchange / 12
    # scans). The series is (types × days)-sized: persist it, one
    # fact pass.
    seg = caching.persist(
        idx.crossJoin(F.broadcast(par))
        .select(
            "event_type",
            F.when(F.col("i") < F.col("knot"), 0).otherwise(1).alias("seg"),
            F.col("i").cast("decimal(38,0)").alias("i"),
            "x",
        )
    )
    def _mo(df, keys):
        return df.groupBy(*keys).agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.sum("i").cast("decimal(38,0)").alias("si"),
            F.sum("x").cast("decimal(38,0)").alias("sx"),
            F.sum(F.expr("i * i")).cast("decimal(38,0)").alias("sii"),
            F.sum(F.expr("i * x")).cast("decimal(38,0)").alias("six"),
        )

    slope_expr = (
        "CASE WHEN n * sii - si * si > 0 THEN"
        " round(CAST(n * six - si * sx AS DOUBLE)"
        "       / CAST(n * sii - si * si AS DOUBLE) * 1000000) END"
    )
    sl = _mo(seg, ["event_type", "seg"]).select(
        "event_type", "seg", "n", F.expr(slope_expr).alias("slope")
    )
    full_mo = _mo(seg, ["event_type"]).select(
        "event_type", F.expr(slope_expr).alias("slope_full")
    )
    a = sl.filter(F.col("seg") == 0).select(
        "event_type",
        F.col("n").cast("long").alias("n_pre"),
        F.col("slope").cast("long").alias("slope_pre_micro"),
    )
    b = sl.filter(F.col("seg") == 1).select(
        "event_type",
        F.col("n").cast("long").alias("n_post"),
        F.col("slope").cast("long").alias("slope_post_micro"),
    )
    return (
        a.join(b, "event_type")
        .join(full_mo, "event_type")
        .select(
            "event_type",
            "n_pre",
            "n_post",
            "slope_pre_micro",
            "slope_post_micro",
            F.col("slope_full").cast("long").alias("slope_full_micro"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# X366 — partial autocorrelation (PACF lags 1–3) of the daily event
# volume via Durbin–Levinson on exact-integer autocovariances — the
# AR-order diagnostic next to X303's ACF: "is the day-over-day
# dependence direct, or just propagated lag-1?"
# --------------------------------------------------------------------------
@query(
    "q_pacf",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS HUGEINT) AS x
      FROM events GROUP BY 1
    ),
    span AS (SELECT min(d) AS d0, max(d) AS d1 FROM daily),
    grid AS (
      SELECT unnest(range(0, datediff('day', d0, d1) + 1)) AS i
      FROM span
    ),
    obs AS (
      SELECT datediff('day', s.d0, d) AS i, x
      FROM daily CROSS JOIN span s
    ),
    dense AS (
      SELECT g.i, COALESCE(o.x, 0::HUGEINT) AS x
      FROM grid g LEFT JOIN obs o USING (i)
    ),
    base AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS s,
             CAST(sum(x * x) AS HUGEINT) AS p0
      FROM dense
    ),
    lags AS (
      SELECT k,
             CAST(sum(a.x * b.x) AS HUGEINT) AS pk,
             CAST(sum(a.x) AS HUGEINT) AS ak,
             CAST(sum(b.x) AS HUGEINT) AS bk
      FROM unnest([1, 2, 3]) AS t(k)
      JOIN dense a ON true
      JOIN dense b ON b.i = a.i + k
      GROUP BY k
    ),
    nums AS (
      SELECT k,
             CAST(n * n * pk - n * s * (ak + bk) + (n - k) * s * s
                  AS HUGEINT) AS numk,
             CAST(n * n * p0 - n * s * s AS HUGEINT) AS num0
      FROM lags CROSS JOIN base
    ),
    rs AS (
      SELECT
        max(CASE WHEN k = 1 THEN CAST(numk AS DOUBLE)
                 / CAST(num0 AS DOUBLE) END) AS r1,
        max(CASE WHEN k = 2 THEN CAST(numk AS DOUBLE)
                 / CAST(num0 AS DOUBLE) END) AS r2,
        max(CASE WHEN k = 3 THEN CAST(numk AS DOUBLE)
                 / CAST(num0 AS DOUBLE) END) AS r3
      FROM nums WHERE num0 > 0
    ),
    dl AS (
      SELECT r1, r2, r3,
             (r2 - r1 * r1) / (1.0 - r1 * r1) AS p22,
             r1 - ((r2 - r1 * r1) / (1.0 - r1 * r1)) * r1 AS p21
      FROM rs
    )
    SELECT (SELECT CAST(n AS BIGINT) FROM base) AS n_days,
           CAST(round(r1 * 1000000) AS BIGINT) AS acf1_micro,
           CAST(round(r2 * 1000000) AS BIGINT) AS acf2_micro,
           CAST(round(r3 * 1000000) AS BIGINT) AS acf3_micro,
           CAST(round(r1 * 1000000) AS BIGINT) AS pacf1_micro,
           CAST(round(p22 * 1000000) AS BIGINT) AS pacf2_micro,
           CAST(CASE WHEN 1.0 - p21 * r1 - p22 * r2 <> 0 THEN
             round((r3 - p21 * r2 - p22 * r1)
                   / (1.0 - p21 * r1 - p22 * r2) * 1000000)
             END AS BIGINT) AS pacf3_micro
    FROM dl
    """,
)
def q_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X366 — PACF(1..3) via Durbin–Levinson over the zero-filled
    daily count series: φ11 = r1, φ22 = (r2−r1²)/(1−r1²),
    φ33 = (r3 − φ21·r2 − φ22·r1)/(1 − φ21·r1 − φ22·r2).

    Exactness: every autocovariance numerator is the all-integer
    expansion n²·P_k − n·S·(A_k+B_k) + (n−k)·S² (multiplying the
    mean-centered form through by n² — no rational mean anywhere),
    over the zero-filled grid (X303 rule); r_k and the DL recursion
    are identical-input double arithmetic (divisions only) behind
    micro rounds. Scale shape: fact → daily rollup → three
    calendar-sized self-joins (never fact-sized) → 1 row."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("x")
    )
    span = daily.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    grid = F.broadcast(span).select(
        F.explode(F.sequence(F.lit(0), F.datediff("d1", "d0"))).alias(
            "i"
        )
    )
    obs = daily.crossJoin(F.broadcast(span)).select(
        F.datediff("d", "d0").alias("i"), "x"
    )
    # r16 (guide §2.4/§5): base and both lag-join sides re-derived the
    # zero-filled daily series — and the fact rollup under it — per
    # consumer (measured plan: 16 Exchange / 12 scans). The series is
    # span-days-sized: persist it, one fact pass.
    dense = caching.persist(
        grid.join(obs, "i", "left")
        .select(
            "i",
            F.coalesce(
                F.col("x"), F.lit(0).cast("decimal(38,0)")
            ).alias("x"),
        )
    )
    base = dense.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("s"),
        F.sum(F.expr("x * x")).cast("decimal(38,0)").alias("p0"),
    )
    ks = dense.sparkSession.range(1, 4).select(
        F.col("id").cast("int").alias("k")
    )
    bside = dense.select(
        F.col("i").alias("ib"), F.col("x").alias("xb")
    )
    lags = (
        dense.crossJoin(F.broadcast(ks))
        .join(
            bside,
            F.col("ib") == F.col("i") + F.col("k"),
        )
        .groupBy("k")
        .agg(
            F.sum(F.expr("x * xb")).cast("decimal(38,0)").alias("pk"),
            F.sum("x").cast("decimal(38,0)").alias("ak"),
            F.sum("xb").cast("decimal(38,0)").alias("bk"),
        )
    )
    nums = lags.crossJoin(F.broadcast(base)).select(
        "k",
        F.expr(
            "CAST(n * n * pk - n * s * (ak + bk) + (n - k) * s * s"
            " AS DECIMAL(38,0))"
        ).alias("numk"),
        F.expr("CAST(n * n * p0 - n * s * s AS DECIMAL(38,0))").alias(
            "num0"
        ),
        "n",
    )
    rs = nums.filter(F.col("num0") > 0).agg(
        F.max(
            F.when(
                F.col("k") == 1,
                F.expr("CAST(numk AS DOUBLE) / CAST(num0 AS DOUBLE)"),
            )
        ).alias("r1"),
        F.max(
            F.when(
                F.col("k") == 2,
                F.expr("CAST(numk AS DOUBLE) / CAST(num0 AS DOUBLE)"),
            )
        ).alias("r2"),
        F.max(
            F.when(
                F.col("k") == 3,
                F.expr("CAST(numk AS DOUBLE) / CAST(num0 AS DOUBLE)"),
            )
        ).alias("r3"),
    )
    # n_days comes from base, NOT from the num0>0-filtered agg: on a
    # zero-variance daily series the filter empties rs and a
    # filtered-side max(n) would NULL while the oracle's independent
    # (SELECT n FROM base) still reports the day count (caught by the
    # r16 planted negative/constant-value events battery).
    dl = rs.crossJoin(
        F.broadcast(
            base.select(F.col("n").cast("long").alias("n_days"))
        )
    ).select(
        "n_days",
        "r1",
        "r2",
        "r3",
        F.expr(
            "(r2 - r1 * r1) / (CAST(1.0 AS DOUBLE) - r1 * r1)"
        ).alias("p22"),
        F.expr(
            "r1 - ((r2 - r1 * r1) / (CAST(1.0 AS DOUBLE) - r1 * r1))"
            " * r1"
        ).alias("p21"),
    )
    return dl.select(
        "n_days",
        F.expr("CAST(round(r1 * 1000000) AS BIGINT)").alias(
            "acf1_micro"
        ),
        F.expr("CAST(round(r2 * 1000000) AS BIGINT)").alias(
            "acf2_micro"
        ),
        F.expr("CAST(round(r3 * 1000000) AS BIGINT)").alias(
            "acf3_micro"
        ),
        F.expr("CAST(round(r1 * 1000000) AS BIGINT)").alias(
            "pacf1_micro"
        ),
        F.expr("CAST(round(p22 * 1000000) AS BIGINT)").alias(
            "pacf2_micro"
        ),
        F.expr(
            "CAST(CASE WHEN CAST(1.0 AS DOUBLE) - p21 * r1 - p22 * r2"
            " <> 0 THEN round((r3 - p21 * r2 - p22 * r1)"
            " / (CAST(1.0 AS DOUBLE) - p21 * r1 - p22 * r2) * 1000000)"
            " END AS BIGINT)"
        ).alias("pacf3_micro"),
    )


# --------------------------------------------------------------------------
# X367 — character-bigram conditional entropy H(c₂|c₁) per source: the
# entropy-rate screen that separates natural prose from boilerplate /
# generated / encrypted junk one level below X97's unigram char
# entropy (a repeated-template source keeps unigram entropy high but
# collapses CONDITIONAL entropy).
# --------------------------------------------------------------------------
@query(
    "q_char_bigram_entropy",
    oracle="""
    WITH big AS (
      SELECT source, substr(lower(text), i, 2) AS bg
      FROM documents, unnest(range(1, length(text))) AS r(i)
      WHERE length(text) >= 2
    ),
    bc AS (
      SELECT source, bg, CAST(count(*) AS HUGEINT) AS nab
      FROM big GROUP BY 1, 2
    ),
    uc AS (
      SELECT source, substr(bg, 1, 1) AS c1,
             CAST(sum(nab) AS HUGEINT) AS na
      FROM bc GROUP BY 1, 2
    ),
    terms AS (
      SELECT bc.source AS source,
             CAST(sum(nab * (round(ln(CAST(na AS DOUBLE)) * 1000)
                             - round(ln(CAST(nab AS DOUBLE)) * 1000)))
                  AS HUGEINT) AS hsum,
             CAST(sum(nab) AS HUGEINT) AS n,
             CAST(count(*) AS HUGEINT) AS v_bigrams
      FROM bc JOIN uc ON uc.source = bc.source
                     AND uc.c1 = substr(bc.bg, 1, 1)
      GROUP BY 1
    )
    SELECT source,
           CAST(n AS BIGINT) AS n_bigrams,
           CAST(v_bigrams AS BIGINT) AS v_bigrams,
           CAST(hsum // n AS BIGINT) AS h_cond_milli
    FROM terms ORDER BY source
    """,
)
def q_char_bigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X367 — per-source H(c₂|c₁) = Σ n_ab·(ln n_a − ln n_ab)/N in
    milli-nats over raw lowercase character bigrams.

    Exactness: bigram and first-char counts are exact integers; each
    ln is milli-quantized per distinct count (X300 rule), so every
    term and the total are exact integers; the final division is one
    truncated milli presentation of a non-negative sum (ln n_a >=
    ln n_ab always since n_a >= n_ab). Scale shape: the bigram
    explode is the scan-shaped cost (length(text) rows per doc, all
    map-side combined into a (source, bigram)-sized table); the
    conditional join runs on vocab-sized frames. Output ≤ #sources."""
    docs = load_table(spark, sf_dir, "documents")
    # fan the length(text)-per-doc bigram explode across the cluster:
    # the docs table is one input split locally, so the whole explode
    # ran in ONE task (the X333 lesson; 5.7 -> ~1.5 s at sf0.1). The
    # (source, bigram) aggregate is partition-invariant.
    bc = (
        docs.filter(F.length("text") >= 2)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(text) - 1),"
                    " i -> substring(lower(text), i, 2))"
                )
            ).alias("bg"),
        )
        .groupBy("source", "bg")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("nab"))
    )
    uc = (
        bc.groupBy(
            "source", F.expr("substring(bg, 1, 1)").alias("c1")
        )
        .agg(F.sum("nab").cast("decimal(38,0)").alias("na"))
    )
    terms = (
        bc.withColumn("c1", F.expr("substring(bg, 1, 1)"))
        .join(uc, ["source", "c1"])
        .groupBy("source")
        .agg(
            F.sum(
                F.expr(
                    "nab * (round(ln(CAST(na AS DOUBLE)) * 1000)"
                    " - round(ln(CAST(nab AS DOUBLE)) * 1000))"
                )
            )
            .cast("decimal(38,0)")
            .alias("hsum"),
            F.sum("nab").cast("decimal(38,0)").alias("n"),
            F.count(F.lit(1)).cast("decimal(38,0)").alias("v_bigrams"),
        )
    )
    return terms.select(
        "source",
        F.col("n").cast("long").alias("n_bigrams"),
        F.col("v_bigrams").cast("long").alias("v_bigrams"),
        F.expr("CAST(hsum div n AS BIGINT)").alias("h_cond_milli"),
    ).orderBy("source")


# --------------------------------------------------------------------------
# X368 — Borda-count rank fusion over three deterministic rankers
# (doc length, type-token ratio, md5 tiebreak baseline): positional
# points (top-50 lists, 50 − r + 1 each) — the positional companion
# of X318's reciprocal-rank fusion; Borda rewards consistent mid-list
# presence where RRF's 1/(60+r) flattens it.
# --------------------------------------------------------------------------
@query(
    "q_borda_fusion",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, n_chars,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ',
                          'g')), ' ') AS toks
      FROM documents
    ),
    len_list AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id)
                  AS BIGINT) AS r
      FROM toks QUALIFY r <= 50
    ),
    ttr_list AS (
      SELECT doc_id,
             CAST(row_number() OVER (
               ORDER BY CAST(len(list_distinct(toks)) * 1000000
                             // len(toks) AS BIGINT) DESC, doc_id)
               AS BIGINT) AS r
      FROM toks QUALIFY r <= 50
    ),
    md5_list AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                 || '|borda-v1'), 1, 15))::BIGINT, doc_id)
               AS BIGINT) AS r
      FROM toks QUALIFY r <= 50
    ),
    fused AS (
      SELECT COALESCE(a.doc_id, b.doc_id, c.doc_id) AS doc_id,
             a.r AS rank_len, b.r AS rank_ttr, c.r AS rank_md5,
             COALESCE(51 - a.r, 0) + COALESCE(51 - b.r, 0)
               + COALESCE(51 - c.r, 0) AS borda_points
      FROM len_list a
      FULL OUTER JOIN ttr_list b USING (doc_id)
      FULL OUTER JOIN md5_list c USING (doc_id)
    )
    SELECT doc_id, rank_len, rank_ttr, rank_md5,
           CAST(borda_points AS BIGINT) AS borda_points
    FROM fused ORDER BY borda_points DESC, doc_id LIMIT 20
    """,
)
def q_borda_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X368 — Borda fusion: three top-50 rankers (length, TTR, md5
    baseline) fused by positional points 51 − r; final top-20.

    Exactness: every ranker's key is an exact integer (n_chars, the
    truncated micro TTR, the 15-hex md5) with a doc_id tiebreak, so
    all three permutations and the point sums are integer-exact.
    Scale shape: the per-ranker top-50s plan as TakeOrderedAndProject
    (limit-pushed, no full sort materialization — the X318 plan); the
    fusion joins are 50-row frames. At 100 TB each ranker is one
    scan + top-k combine. Output 20 rows."""
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "n_chars",
        F.split(
            F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
        ).alias("toks"),
    )
    # Each ranker: TakeOrdered top-50 (limit-pushed, no global-sort
    # exchange — the X323 RRF plan), THEN row_number over the 50-row
    # frame.
    def _top50(df, order_cols, out):
        return (
            df.orderBy(*order_cols)
            .limit(50)
            .select(
                "doc_id",
                F.row_number()
                .over(W.partitionBy().orderBy(*order_cols))
                .cast("long")
                .alias(out),
            )
        )

    len_list = _top50(
        toks, [F.desc("n_chars"), F.col("doc_id")], "rank_len"
    )
    ttr_list = _top50(
        toks.withColumn(
            "ttr",
            F.expr(
                "CAST(size(array_distinct(toks)) * 1000000"
                " div size(toks) AS BIGINT)"
            ),
        ),
        [F.desc("ttr"), F.col("doc_id")],
        "rank_ttr",
    )
    md5_list = _top50(
        toks.withColumn(
            "h",
            F.expr(
                "CAST(conv(substr(md5(CAST(doc_id AS STRING)"
                " || '|borda-v1'), 1, 15), 16, 10) AS BIGINT)"
            ),
        ),
        [F.col("h"), F.col("doc_id")],
        "rank_md5",
    )
    fused = (
        len_list.join(ttr_list, "doc_id", "full")
        .join(md5_list, "doc_id", "full")
        .select(
            "doc_id",
            "rank_len",
            "rank_ttr",
            "rank_md5",
            (
                F.coalesce(51 - F.col("rank_len"), F.lit(0))
                + F.coalesce(51 - F.col("rank_ttr"), F.lit(0))
                + F.coalesce(51 - F.col("rank_md5"), F.lit(0))
            )
            .cast("long")
            .alias("borda_points"),
        )
    )
    return fused.orderBy(F.desc("borda_points"), "doc_id").limit(20)


# --------------------------------------------------------------------------
# X369 — STL-lite seasonal decomposition of daily revenue per event
# type: trend = centered 7-day MA, seasonal = day-of-week mean of the
# detrended series, residual anomalies gated at 3× the mean absolute
# residual — the decomposition behind X126's seasonal-anomaly gate,
# exposed as a full ledger instead of one flag.
# --------------------------------------------------------------------------
@query(
    "q_stl_decompose",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(sum(CAST(round(value * 100, 0) AS HUGEINT))
                  AS HUGEINT) AS x
      FROM events GROUP BY 1, 2
    ),
    ma AS (
      SELECT event_type, d, x,
             CAST(sum(x) OVER (PARTITION BY event_type ORDER BY d
                  ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                  AS HUGEINT) AS s7,
             count(*) OVER (PARTITION BY event_type ORDER BY d
                  ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS c7
      FROM daily
    ),
    detr AS (
      SELECT event_type, d, x,
             CAST(s7 * 1000000 // 7 AS HUGEINT) AS trend_micro,
             CAST(x * 1000000 - s7 * 1000000 // 7 AS HUGEINT) AS dt,
             dayofweek(d) AS dow
      FROM ma WHERE c7 = 7
    ),
    seas AS (
      SELECT event_type, dow,
             CAST(sum(dt) AS HUGEINT) AS sd,
             CAST(count(*) AS HUGEINT) AS cd
      FROM detr GROUP BY 1, 2
    ),
    led AS (
      SELECT detr.event_type AS event_type, d, x, trend_micro,
             CAST(CASE WHEN sd >= 0 THEN sd // cd
                  ELSE -((-sd) // cd) END AS HUGEINT) AS seasonal_micro,
             dt - CAST(CASE WHEN sd >= 0 THEN sd // cd
                  ELSE -((-sd) // cd) END AS HUGEINT) AS resid_micro
      FROM detr JOIN seas ON seas.event_type = detr.event_type
                         AND seas.dow = detr.dow
    ),
    scale_r AS (
      SELECT event_type,
             CAST(sum(abs(resid_micro)) AS HUGEINT) AS sabs,
             CAST(count(*) AS HUGEINT) AS nr
      FROM led GROUP BY 1
    )
    SELECT led.event_type AS event_type, d,
           CAST(x AS BIGINT) AS cents,
           CAST(trend_micro AS BIGINT) AS trend_micro,
           CAST(seasonal_micro AS BIGINT) AS seasonal_micro,
           CAST(resid_micro AS BIGINT) AS resid_micro,
           abs(resid_micro) * nr > 3 * sabs AS anomaly
    FROM led JOIN scale_r ON scale_r.event_type = led.event_type
    ORDER BY led.event_type, d
    """,
)
def q_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X369 — trend/seasonal/residual ledger: centered 7-day MA trend
    (full windows only), day-of-week seasonal means of the detrended
    series, and |resid| > 3·mean|resid| anomaly flags.

    Exactness: daily cents are exact integers; the MA is a truncated
    micro division of a non-negative 7-day sum; detrended values are
    pure integer differences; the seasonal mean uses the X216
    sign-corrected div (detrended sums CAN be negative); the anomaly
    gate is a cross-multiplied integer inequality — no doubles
    anywhere. Scale shape: fact-sized daily rollup → one
    calendar-bounded keyed window → dow-sized join; ledger is
    (types × days) rows (sort allowlist class a)."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(
        F.sum(F.expr("CAST(round(value * 100, 0) AS DECIMAL(38,0))"))
        .cast("decimal(38,0)")
        .alias("x")
    )
    w7 = (
        W.partitionBy("event_type").orderBy("d").rowsBetween(-3, 3)
    )
    ma = daily.select(
        "event_type",
        "d",
        "x",
        F.sum("x").over(w7).cast("decimal(38,0)").alias("s7"),
        F.count(F.lit(1)).over(w7).alias("c7"),
    )
    detr = ma.filter(F.col("c7") == 7).select(
        "event_type",
        "d",
        "x",
        F.expr("CAST(s7 * 1000000 div 7 AS DECIMAL(38,0))").alias(
            "trend_micro"
        ),
        F.expr(
            "CAST(x * 1000000 - s7 * 1000000 div 7 AS DECIMAL(38,0))"
        ).alias("dt"),
        F.expr("dayofweek(d)").alias("dow"),
    )
    seas = detr.groupBy("event_type", "dow").agg(
        F.sum("dt").cast("decimal(38,0)").alias("sd"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("cd"),
    )
    led = detr.join(seas, ["event_type", "dow"]).select(
        "event_type",
        "d",
        "x",
        "trend_micro",
        F.expr(
            "CAST(CASE WHEN sd >= 0 THEN sd div cd"
            " ELSE -((-sd) div cd) END AS DECIMAL(38,0))"
        ).alias("seasonal_micro"),
        F.expr(
            "CAST(dt - CASE WHEN sd >= 0 THEN sd div cd"
            " ELSE -((-sd) div cd) END AS DECIMAL(38,0))"
        ).alias("resid_micro"),
    )
    scale_r = led.groupBy("event_type").agg(
        F.sum(F.abs(F.col("resid_micro")))
        .cast("decimal(38,0)")
        .alias("sabs"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("nr"),
    )
    return led.join(scale_r, "event_type").select(
        "event_type",
        "d",
        F.col("x").cast("long").alias("cents"),
        F.col("trend_micro").cast("long").alias("trend_micro"),
        F.col("seasonal_micro").cast("long").alias("seasonal_micro"),
        F.col("resid_micro").cast("long").alias("resid_micro"),
        (
            F.abs(F.col("resid_micro")) * F.col("nr")
            > 3 * F.col("sabs")
        ).alias("anomaly"),
    ).orderBy("event_type", "d")


# --------------------------------------------------------------------------
# X370 — Holm–Bonferroni step-down over the per-type one-vs-rest MWU
# family: the FWER-controlling companion of X307's BH-FDR (same exact
# rank-sum machinery, the OTHER multiple-testing guarantee) — adjusted
# p = max prefix of p_(j)·(m−j+1), reject while ≤ α.
# --------------------------------------------------------------------------
@query(
    "q_holm_bonferroni",
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
    adj AS (
      SELECT event_type, z_micro, p_micro, i, m,
             least(1000000::HUGEINT,
                   max(p_micro * (m - i + 1)) OVER (
                     ORDER BY i
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
               AS holm_adj_micro
      FROM ranked
    )
    SELECT event_type, z_micro, p_micro,
           CAST(i AS BIGINT) AS holm_rank,
           CAST(holm_adj_micro AS BIGINT) AS holm_adj_micro,
           holm_adj_micro <= 50000 AS rejected
    FROM adj ORDER BY holm_rank
    """,
)
def q_holm_bonferroni(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X370 — Holm step-down FWER control over the X307 MWU family:
    adjusted p_(i) = min(1, max_{j≤i} p_(j)·(m−j+1)); reject while
    adjusted ≤ α = 0.05.

    Exactness: identical exact-integer rank-sum machinery as X307
    (densified grid, double-rank trick, integer ties); z and the
    logistic p approximation are the same identical-input double
    expressions behind micro rounds; the Holm adjustment is pure
    integer arithmetic (a prefix max of p_micro·(m−i+1) over the
    family-sized frame). Scale shape: X307's exactly — two fact-sized
    aggregates, a (types × values) grid, then family-sized (≤ #types
    rows) windows. Output ≤ #types rows (sort allowlist class a)."""
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
            "c1",
            F.coalesce(F.col("c1"), F.lit(0).cast("decimal(38,0)")),
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
        F.sum(
            F.col("c1") * (F.lit(2) * F.col("f_prev") + F.col("c") + 1)
        )
        .cast("decimal(38,0)")
        .alias("r1_double"),
        F.sum(F.expr("c * c * c - c"))
        .cast("decimal(38,0)")
        .alias("tie_t"),
    )
    zexpr = (
        "(CAST(r1_double - n1 * (n1 + 1) AS DOUBLE)"
        " - CAST(n1 * n2 AS DOUBLE))"
        " / (CAST(2.0 AS DOUBLE) * sqrt(CAST(n1 * n2 AS DOUBLE)"
        "    * CAST((n1 + n2) * (n1 + n2) * (n1 + n2)"
        "           - (n1 + n2) - tie_t AS DOUBLE)"
        "    / (CAST(12.0 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)"
        "       * CAST(n1 + n2 - 1 AS DOUBLE))))"
    )
    p = agg.select(
        "event_type",
        F.expr(f"CAST(round(({zexpr}) * 1000000) AS BIGINT)").alias(
            "z_micro"
        ),
        F.expr(
            "CAST(round(CAST(2000000.0 AS DOUBLE)"
            f" / (CAST(1.0 AS DOUBLE) + exp(CAST(1.702 AS DOUBLE)"
            f" * abs({zexpr})))) AS BIGINT)"
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
    wmax = (
        W.partitionBy()
        .orderBy("i")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    adj = ranked.select(
        "event_type",
        "z_micro",
        "p_micro",
        "i",
        F.least(
            F.lit(1000000).cast("long"),
            F.max(
                (F.col("p_micro") * (F.col("m") - F.col("i") + 1)).cast(
                    "long"
                )
            ).over(wmax),
        ).alias("holm_adj_micro"),
    )
    return adj.select(
        "event_type",
        "z_micro",
        "p_micro",
        F.col("i").cast("long").alias("holm_rank"),
        "holm_adj_micro",
        (F.col("holm_adj_micro") <= 50000).alias("rejected"),
    ).orderBy("holm_rank")


# --------------------------------------------------------------------------
# X371 — embedding alignment & uniformity (Wang–Isola): alignment =
# mean cosine over deterministic same-label partner pairs, uniformity
# = ln E[exp(−2‖a−b‖²)] over deterministic offset pairs — the two
# numbers that say whether an embedding space is collapsing
# (uniformity → 0) or scattering its positives (alignment ↓).
# --------------------------------------------------------------------------
@query(
    "q_alignment_uniformity",
    oracle="""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
    ),
    pos AS (
      SELECT CAST(round(list_cosine_similarity(a.v, b.v), 6) * 1000000
                  AS HUGEINT) AS cos_micro
      FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
                       AND a.label = b.label
      WHERE a.vec_id % 2 = 0
    ),
    pair7 AS (
      SELECT round(list_sum(list_transform(range(1, len(a.v) + 1),
                   i -> (a.v[i] - b.v[i]) * (a.v[i] - b.v[i]))), 6)
               AS d2
      FROM e a JOIN e b ON b.vec_id = a.vec_id + 7
    ),
    uni AS (
      SELECT CAST(sum(CAST(round(exp(-2.0 * d2) * 1000000000)
                           AS HUGEINT)) AS HUGEINT) AS se,
             CAST(count(*) AS HUGEINT) AS np
      FROM pair7
    ),
    al AS (
      SELECT CAST(count(*) AS HUGEINT) AS na,
             CAST(sum(cos_micro) AS HUGEINT) AS sc
      FROM pos
    )
    SELECT CAST(na AS BIGINT) AS n_pos_pairs,
           CAST(np AS BIGINT) AS n_uniform_pairs,
           CAST(CASE WHEN na > 0 THEN
             CASE WHEN sc >= 0 THEN sc // na ELSE -((-sc) // na) END
             END AS BIGINT) AS alignment_micro,
           CAST(CASE WHEN np > 0 AND se > 0 THEN
             round(ln(CAST(se AS DOUBLE) / CAST(np AS DOUBLE)
                      / 1000000000.0) * 1000000) END AS BIGINT)
             AS uniformity_micro
    FROM al CROSS JOIN uni
    """,
)
def q_alignment_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X371 — Wang–Isola alignment (mean positive-pair cosine) and
    uniformity (ln mean exp(−2d²)) over md5-free DETERMINISTIC linear
    pair samples: positives = (even vec_id, vec_id+1) with equal
    label; uniformity pairs = (vec_id, vec_id+7) offset pairs.

    Exactness: both pair sets come from equi-joins on computed ids
    (no sort, no randomness); cosine follows the X38 rule (6-dp round
    before the ×1e6 integer); d² is an explicit left-to-right
    elementwise sum rounded at 6 dp on both engines; each exp is
    quantized per pair to nano units (integer sum is then
    order-independent); the final ln is one data-dependent
    transcendental on an identical integer ratio behind the micro
    round; the alignment mean uses the X216 sign-corrected div.
    Scale shape: two linear equi-joins on the vectors table — O(n)
    pairs, never O(n²); 1-row output."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias(
            "v"
        ),
    )
    a = emb.select(
        F.col("vec_id").alias("ia"),
        F.col("label").alias("la"),
        F.col("v").alias("va"),
    )
    b = emb.select(
        F.col("vec_id").alias("ib"),
        F.col("label").alias("lb"),
        F.col("v").alias("vb"),
    )
    cos = (
        "aggregate(zip_with(va, vb, (x, y) -> x * y),"
        " CAST(0.0 AS DOUBLE), (acc, z) -> acc + z)"
        " / (sqrt(aggregate(zip_with(va, va, (x, y) -> x * y),"
        "   CAST(0.0 AS DOUBLE), (acc, z) -> acc + z))"
        " * sqrt(aggregate(zip_with(vb, vb, (x, y) -> x * y),"
        "   CAST(0.0 AS DOUBLE), (acc, z) -> acc + z)))"
    )
    pos = (
        a.filter(F.expr("ia % 2 = 0"))
        .join(
            b,
            (F.col("ib") == F.col("ia") + 1)
            & (F.col("la") == F.col("lb")),
        )
        .select(
            F.expr(
                f"CAST(round({cos}, 6) * 1000000 AS DECIMAL(38,0))"
            ).alias("cos_micro")
        )
    )
    d2 = (
        "round(aggregate(zip_with(va, vb, (x, y) -> (x - y) * (x - y)),"
        " CAST(0.0 AS DOUBLE), (acc, z) -> acc + z), 6)"
    )
    pair7 = a.join(b, F.col("ib") == F.col("ia") + 7).select(
        F.expr(
            f"CAST(round(exp(CAST(-2.0 AS DOUBLE) * ({d2}))"
            " * 1000000000) AS DECIMAL(38,0))"
        ).alias("e_nano")
    )
    al = pos.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("na"),
        F.sum("cos_micro").cast("decimal(38,0)").alias("sc"),
    )
    uni = pair7.agg(
        F.sum("e_nano").cast("decimal(38,0)").alias("se"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("np"),
    )
    return al.crossJoin(F.broadcast(uni)).select(
        F.col("na").cast("long").alias("n_pos_pairs"),
        F.col("np").cast("long").alias("n_uniform_pairs"),
        F.expr(
            "CAST(CASE WHEN na > 0 THEN"
            " CASE WHEN sc >= 0 THEN sc div na"
            " ELSE -((-sc) div na) END END AS BIGINT)"
        ).alias("alignment_micro"),
        F.expr(
            "CAST(CASE WHEN np > 0 AND se > 0 THEN"
            " round(ln(CAST(se AS DOUBLE) / CAST(np AS DOUBLE)"
            " / CAST(1000000000.0 AS DOUBLE)) * 1000000)"
            " END AS BIGINT)"
        ).alias("uniformity_micro"),
    )


# --------------------------------------------------------------------------
# X372 — DP median via the exponential mechanism (deterministic
# report-noisy-max form): candidate bins score ε·u/2 + Gumbel(md5),
# u(bin) = −|2·rank_mid − n| — the DP release that X321's dp_mean and
# X282's dp_histogram can't give you (quantiles need selection, not
# noise addition).
# --------------------------------------------------------------------------
_DPQ_SALT = "dpq-v1"


@query(
    "q_dp_quantile",
    oracle=f"""
    WITH cents AS (
      SELECT CAST(round(o_totalprice * 100, 0) AS HUGEINT) AS c
      FROM orders
    ),
    bins AS (
      SELECT CAST(c // 100000 AS BIGINT) AS bin,
             CAST(count(*) AS HUGEINT) AS cnt
      FROM cents GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(cnt) AS HUGEINT) AS n FROM bins),
    cum AS (
      SELECT bin, cnt,
             COALESCE(SUM(cnt) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS f_prev
      FROM bins
    ),
    scored AS (
      SELECT bin, cnt, f_prev,
             -- u2 = -|2·mid - n| (doubled to stay integer)
             -CAST(abs(2 * f_prev + cnt - n) AS HUGEINT) AS u2,
             -- score_milli = 25·u2 (= eps/4 · u2 · 1000, eps = 0.1)
             -- + milli-quantized Gumbel from the 15-hex md5 uniform
             -25 * CAST(abs(2 * f_prev + cnt - n) AS HUGEINT)
             + CAST(round(-ln(-ln(
                 CAST(('0x' || substr(md5(CAST(bin AS VARCHAR)
                   || '|{_DPQ_SALT}'), 1, 15))::BIGINT AS DOUBLE)
                 / 1152921504606846976.0)) * 1000) AS HUGEINT)
               AS score_milli,
             n
      FROM cum CROSS JOIN tot
    ),
    chosen AS (
      SELECT bin AS dp_bin, score_milli
      FROM scored ORDER BY score_milli DESC, bin LIMIT 1
    ),
    true_med AS (
      SELECT min(bin) AS true_bin
      FROM scored WHERE 2 * f_prev + cnt >= n
    )
    SELECT CAST((SELECT n FROM tot) AS BIGINT) AS n_orders,
           CAST(dp_bin AS BIGINT) AS dp_median_bin,
           CAST(true_bin AS BIGINT) AS true_median_bin,
           CAST(abs(dp_bin - true_bin) AS BIGINT) AS bin_error
    FROM chosen CROSS JOIN true_med
    """,
)
def q_dp_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X372 — exponential-mechanism DP median of order value over
    $1000 bins (ε = 0.1): score = (ε/4)·(−|2·rank_mid − n|) + Gumbel
    noise from the salted md5 uniform; argmax is the release.

    Exactness: bin counts, prefix ranks and the doubled utility are
    exact integers; the Gumbel variate is data-INdependent per bin
    (md5 of the bin id), its nested lns computed on the identical
    15-hex/2⁶⁰ double and milli-quantized — after that the score is
    pure integer with a bin tiebreak, so selection is deterministic;
    the true median bin is an exact integer rank test (reported for
    the utility audit — a real release would withhold it). Scale
    shape: fact scan → bin-sized aggregate → bin-bounded prefix
    window → constant selection. Output is 1 row."""
    from pyspark.sql.window import Window as W

    o = load_table(spark, sf_dir, "orders")
    bins = o.select(
        F.expr(
            "CAST(CAST(round(o_totalprice * 100, 0) AS DECIMAL(38,0))"
            " div 100000 AS BIGINT)"
        ).alias("bin")
    ).groupBy("bin").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("cnt")
    )
    tot = bins.agg(F.sum("cnt").cast("decimal(38,0)").alias("n"))
    wp = (
        W.partitionBy()
        .orderBy("bin")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cum = bins.select(
        "bin",
        "cnt",
        F.coalesce(
            F.sum("cnt").over(wp), F.lit(0).cast("decimal(38,0)")
        ).alias("f_prev"),
    )
    scored = cum.crossJoin(F.broadcast(tot)).select(
        "bin",
        "cnt",
        "f_prev",
        "n",
        F.expr(
            "-25 * CAST(abs(2 * f_prev + cnt - n) AS DECIMAL(38,0))"
            " + CAST(round(-ln(-ln("
            f" CAST(conv(substr(md5(CAST(bin AS STRING) || '|{_DPQ_SALT}'),"
            " 1, 15), 16, 10) AS DOUBLE)"
            " / 1152921504606846976.0)) * 1000) AS DECIMAL(38,0))"
        ).alias("score_milli"),
    )
    chosen = (
        scored.orderBy(F.desc("score_milli"), "bin")
        .limit(1)
        .select(F.col("bin").alias("dp_bin"))
    )
    true_med = scored.filter(
        F.expr("2 * f_prev + cnt >= n")
    ).agg(F.min("bin").alias("true_bin"))
    return (
        chosen.crossJoin(F.broadcast(true_med))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("n").cast("long").alias("n_orders"),
            F.col("dp_bin").cast("long").alias("dp_median_bin"),
            F.col("true_bin").cast("long").alias("true_median_bin"),
            F.abs(F.col("dp_bin") - F.col("true_bin"))
            .cast("long")
            .alias("bin_error"),
        )
    )


# --------------------------------------------------------------------------
# X373 — k-core peeling ledger (k = 2, 6 fixed rounds) on the
# co-purchase-day customer graph: how much of the graph survives
# iterative minimum-degree pruning — the community-density audit that
# complements X165's components and X231/X256's triangle counts
# (components say CONNECTED, k-core says DENSELY connected).
# Edges: customers sharing a (day, priority) order group, groups
# capped at 50 members (the LSH bucket-cap discipline — pairs stay
# bucket-local, never corpus-quadratic).
# --------------------------------------------------------------------------
def _kcore_oracle() -> str:
    rounds = []
    prev = "nodes0"
    for r in range(1, 7):
        rounds.append(f"""
    e{r} AS MATERIALIZED (
      SELECT a, b FROM edges
      WHERE a IN (SELECT node FROM {prev})
        AND b IN (SELECT node FROM {prev})
    ),
    d{r} AS MATERIALIZED (
      SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        SELECT a AS node FROM e{r} UNION ALL SELECT b AS node FROM e{r}
      ) GROUP BY node
    ),
    nodes{r} AS MATERIALIZED (SELECT node FROM d{r} WHERE deg >= 2),
    led{r} AS (
      SELECT {r} AS round,
             (SELECT count(*) FROM nodes{r}) AS nodes_remaining,
             (SELECT count(*) FROM e{r}
              WHERE a IN (SELECT node FROM nodes{r})
                AND b IN (SELECT node FROM nodes{r})) AS edges_remaining
    )""")
        prev = f"nodes{r}"
    union = "\n    UNION ALL ".join(
        f"SELECT * FROM led{r}" for r in range(1, 7)
    )
    return f"""
    WITH oc AS (
      SELECT DISTINCT CAST(o_orderdate AS DATE) AS d,
             o_orderpriority AS p, o_custkey AS c
      FROM orders
    ),
    gsz AS (
      SELECT d, p, count(*) AS gn FROM oc GROUP BY d, p
    ),
    capped AS MATERIALIZED (
      SELECT oc.d, oc.p, oc.c FROM oc
      JOIN gsz ON gsz.d = oc.d AND gsz.p = oc.p
      WHERE gsz.gn <= 50
    ),
    edges AS MATERIALIZED (
      SELECT DISTINCT x.c AS a, y.c AS b
      FROM capped x JOIN capped y
        ON x.d = y.d AND x.p = y.p AND x.c < y.c
    ),
    nodes0 AS MATERIALIZED (
      SELECT DISTINCT node FROM (
        SELECT a AS node FROM edges UNION ALL SELECT b AS node FROM edges
      )
    ),{",".join(rounds)}
    SELECT CAST(round AS BIGINT) AS round,
           CAST(nodes_remaining AS BIGINT) AS nodes_remaining,
           CAST(edges_remaining AS BIGINT) AS edges_remaining
    FROM ({union}) ORDER BY round
    """


@query("q_kcore_peel", oracle=_kcore_oracle())
def q_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X373 — 2-core peeling, 6 unrolled rounds, on the co-purchase
    (day, priority) customer graph; per-round ledger of surviving
    nodes and edges. The ledger is EXPLICITLY the first six peel
    rounds (the synthetic graph's chain tails keep unraveling past
    round 6) — a production k-core runs the same superstep in a
    driver loop until the round-over-round node count is unchanged;
    the fixed depth here keeps the query a pure dataflow while the
    monotone-ledger test pins that each round only shrinks.

    Exactness: the graph build is all-integer (distinct group
    membership, ≤50-member group cap, a<b deduped pairs); every peel
    round is an exact degree count + integer threshold — no floats
    anywhere; six rounds are UNROLLED identically on both engines
    (same bounded computation, not an approximation of each other).
    Scale shape: the pair join is
    group-capped (bucket-local, the X37 LSH discipline); each round
    is two aggregates + two semi-joins on the shrinking edge set. At
    100 TB the peel is 6 bounded supersteps — the same plan a
    Pregel-style k-core takes per iteration, without the driver loop
    depending on data. Output 6 rows."""
    o = load_table(spark, sf_dir, "orders")
    # Edge build (r15 verdict #1 shave, part 1): ONE shuffle instead of
    # five. collect_set(c) per (day, priority) group IS the distinct
    # membership, size(members) <= 50 IS the group cap, and the a<b
    # pair set comes from a double explode of the (capped, <=50-element)
    # member array — quadratic only inside a bucket, exactly the X37
    # LSH bucket-cap discipline. The old form (distinct -> groupBy ->
    # cap join -> self-join -> distinct) paid five shuffles and a
    # 929k-row self-join at sf0.1 (~5 s of the query's 5.2 s); this
    # form pays one groupBy shuffle plus the final pair distinct.
    groups = (
        o.groupBy(
            F.to_date("o_orderdate").alias("d"),
            F.col("o_orderpriority").alias("p"),
        )
        .agg(F.collect_set("o_custkey").alias("members"))
        .filter(F.size("members") <= 50)
    )
    edges = (
        groups.select(F.explode("members").alias("a"), "members")
        .select("a", F.explode("members").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    # Peel loop (r15 verdict #1 shave, part 2): a DRIVER CONVERGENCE
    # LOOP — the production k-core shape the docstring names — instead
    # of 6 unrolled dataflow rounds glued by 13 lazy localCheckpoints
    # (each a ~0.3-0.8 s driver job at bench scale, the q_mmr_rerank
    # lesson). Each superstep still runs fully distributed (degree
    # aggregate + two semi-joins on the checkpointed edge frame; the
    # checkpoint is the standard GraphX-style lineage cut — without it
    # Catalyst analysis cost doubles per round, measured >300 s at
    # sf0.001 un-barriered). What comes to the driver is ONE SCALAR
    # COUNT per round — the ledger values themselves, the documented
    # model-sized-collect class — and counts prove convergence exactly:
    # nxt_r is a SUBSET of nxt_{r-1} (peeling only removes nodes), so
    # |nxt_r| == |nxt_{r-1}| implies the node SETS are equal, hence
    # the surviving edge set and every later round's ledger row are
    # identical — the remaining rows are filled without recompute.
    # At sf0.1 the graph fixpoints at round 1 (every capped group of
    # >=3 members is a clique whose members all keep degree >= 2), so
    # the loop runs 2 supersteps instead of 6; the chain-tail regime
    # (small sf) still unravels round by round and pays each superstep.
    ledger: list[tuple[int, int, int]] = []
    cur = edges.localCheckpoint(eager=False)
    prev_nodes: int | None = None
    prev_edges: int | None = None
    converged = False
    for r in range(1, 7):
        if converged:
            # fixpoint certified by the subset+count argument above
            ledger.append((r, prev_nodes, prev_edges))
            continue
        deg = (
            cur.select(F.col("a").alias("node"))
            .union(cur.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        nxt = (
            deg.filter(F.col("deg") >= 2)
            .select("node")
            .localCheckpoint(eager=False)
        )
        n_nodes = nxt.count()
        if prev_nodes is not None and n_nodes == prev_nodes:
            # node set unchanged -> edge set unchanged
            converged = True
            ledger.append((r, prev_nodes, prev_edges))
            continue
        kept = (
            cur.join(
                nxt.select(F.col("node").alias("a")), "a", "semi"
            ).join(nxt.select(F.col("node").alias("b")), "b", "semi")
        ).select("a", "b")
        if r < 6:
            kept = kept.localCheckpoint(eager=False)
        n_edges = kept.count()
        ledger.append((r, n_nodes, n_edges))
        cur, prev_nodes, prev_edges = kept, n_nodes, n_edges
    return spark.createDataFrame(
        ledger, "round long, nodes_remaining long, edges_remaining long"
    ).orderBy("round")


# --------------------------------------------------------------------------
# X374 — winsorized A/B effect: mean-cents gap between the split-hash
# cohorts per event type, before vs after clamping to the type's
# exact p05/p95 — the robust effect estimate that keeps one whale
# user from deciding an experiment (the practical fix X334's
# tail-sensitivity diagnosis calls for).
# --------------------------------------------------------------------------
@query(
    "q_winsorized_ab",
    oracle="""
    WITH base AS (
      SELECT event_type,
             CAST(round(value * 100, 0) AS HUGEINT) AS cents,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
               ::BIGINT % 2 AS cohort
      FROM events
    ),
    vc AS (
      SELECT event_type, cents, CAST(count(*) AS HUGEINT) AS c
      FROM base GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, cents, c,
             CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY cents
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS HUGEINT) AS f,
             CAST(SUM(c) OVER (PARTITION BY event_type) AS HUGEINT) AS n
      FROM vc
    ),
    bounds AS (
      SELECT event_type,
             CAST(min(CASE WHEN f * 20 >= n THEN cents END)
                  AS HUGEINT) AS lo,
             CAST(min(CASE WHEN f * 20 >= 19 * n THEN cents END)
                  AS HUGEINT) AS hi
      FROM cum GROUP BY event_type
    ),
    clamped AS (
      SELECT base.event_type AS event_type, cohort,
             cents,
             least(greatest(cents, lo), hi) AS wcents
      FROM base JOIN bounds ON bounds.event_type = base.event_type
    ),
    agg AS (
      SELECT event_type,
             CAST(sum(CASE WHEN cohort = 0 THEN cents END) AS HUGEINT)
               AS s0,
             CAST(count(*) FILTER (cohort = 0) AS HUGEINT) AS n0,
             CAST(sum(CASE WHEN cohort = 1 THEN cents END) AS HUGEINT)
               AS s1,
             CAST(count(*) FILTER (cohort = 1) AS HUGEINT) AS n1,
             CAST(sum(CASE WHEN cohort = 0 THEN wcents END) AS HUGEINT)
               AS w0,
             CAST(sum(CASE WHEN cohort = 1 THEN wcents END) AS HUGEINT)
               AS w1
      FROM clamped GROUP BY event_type
    )
    SELECT agg.event_type AS event_type,
           CAST(n0 AS BIGINT) AS n_a, CAST(n1 AS BIGINT) AS n_b,
           CAST(lo AS BIGINT) AS lo_cents, CAST(hi AS BIGINT) AS hi_cents,
           CAST(s1 * 10000 // n1 - s0 * 10000 // n0 AS BIGINT)
             AS raw_diff_micro,
           CAST(w1 * 10000 // n1 - w0 * 10000 // n0 AS BIGINT)
             AS winsorized_diff_micro
    FROM agg JOIN bounds ON bounds.event_type = agg.event_type
    ORDER BY agg.event_type
    """,
)
def q_winsorized_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X374 — cohort mean-cents gap per type, raw vs winsorized at the
    type's exact p05/p95 (clamp, don't drop — winsorizing keeps n).

    Exactness: cents are exact integers; the percentile bounds come
    from integer cumulative counts over the (type, value) grid with
    cross-multiplied rank tests (f·20 >= n — no rate division, the
    X115 equidepth rule); clamping is integer least/greatest; both
    gap presentations are differences of truncated non-negative micro
    divisions. Scale shape: one fact-sized (type, cents) aggregate,
    value-grid-bounded cumulative windows, then a broadcast bounds
    join back to the facts and a type-sized aggregate. Output ≤
    #types rows (sort allowlist class a)."""
    from pyspark.sql.window import Window as W

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
    vc = base.groupBy("event_type", "cents").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("c")
    )
    wcum = (
        W.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = vc.select(
        "event_type",
        "cents",
        F.sum("c").over(wcum).cast("decimal(38,0)").alias("f"),
        F.sum("c")
        .over(W.partitionBy("event_type"))
        .cast("decimal(38,0)")
        .alias("n"),
    )
    bounds = cum.groupBy("event_type").agg(
        F.min(
            F.when(F.col("f") * 20 >= F.col("n"), F.col("cents"))
        ).alias("lo"),
        F.min(
            F.when(F.col("f") * 20 >= 19 * F.col("n"), F.col("cents"))
        ).alias("hi"),
    )
    clamped = base.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        "cohort",
        "cents",
        F.least(
            F.greatest(F.col("cents"), F.col("lo")), F.col("hi")
        ).alias("wcents"),
    )
    agg = clamped.groupBy("event_type").agg(
        F.sum(F.when(F.col("cohort") == 0, F.col("cents")))
        .cast("decimal(38,0)")
        .alias("s0"),
        F.sum(F.when(F.col("cohort") == 0, 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("n0"),
        F.sum(F.when(F.col("cohort") == 1, F.col("cents")))
        .cast("decimal(38,0)")
        .alias("s1"),
        F.sum(F.when(F.col("cohort") == 1, 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("n1"),
        F.sum(F.when(F.col("cohort") == 0, F.col("wcents")))
        .cast("decimal(38,0)")
        .alias("w0"),
        F.sum(F.when(F.col("cohort") == 1, F.col("wcents")))
        .cast("decimal(38,0)")
        .alias("w1"),
    )
    return agg.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        F.col("n0").cast("long").alias("n_a"),
        F.col("n1").cast("long").alias("n_b"),
        F.col("lo").cast("long").alias("lo_cents"),
        F.col("hi").cast("long").alias("hi_cents"),
        F.expr(
            "CAST(s1 * 10000 div n1 - s0 * 10000 div n0 AS BIGINT)"
        ).alias("raw_diff_micro"),
        F.expr(
            "CAST(w1 * 10000 div n1 - w0 * 10000 div n0 AS BIGINT)"
        ).alias("winsorized_diff_micro"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# X375 — MMR re-ranking (Carbonell–Goldstein maximal marginal
# relevance): greedy top-5 from a 16-candidate pool, score =
# 0.7·relevance − 0.3·max-similarity-to-selected — the
# diversity-aware final stage every RAG/retrieval pipeline runs after
# X318/X368's fusion, as 5 unrolled deterministic supersteps.
# --------------------------------------------------------------------------
def _mmr_oracle() -> str:
    steps = []
    prev_sel = "sel1"
    for k in range(2, 6):
        steps.append(f""",
    score{k} AS MATERIALIZED (
      SELECT p.doc_id, p.rel,
             (SELECT max(s.jac) FROM sims s
              WHERE s.a = p.doc_id
                AND s.b IN (SELECT doc_id FROM {prev_sel})) AS ms
      FROM pool p
      WHERE p.doc_id NOT IN (SELECT doc_id FROM {prev_sel})
    ),
    pick{k} AS MATERIALIZED (
      SELECT doc_id, rel, ms, {k} AS rk, 7 * rel - 3 * ms AS score
      FROM score{k}
      ORDER BY 7 * rel - 3 * ms DESC, doc_id LIMIT 1
    ),
    sel{k} AS MATERIALIZED (
      SELECT doc_id FROM {prev_sel}
      UNION ALL SELECT doc_id FROM pick{k}
    )""")
        prev_sel = f"sel{k}"
    union = "\n      UNION ALL ".join(
        f"SELECT * FROM pick{k}" for k in range(1, 6)
    )
    return rf"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id,
             list_distinct(string_split(trim(regexp_replace(lower(text),
               '\s+', ' ', 'g')), ' ')) AS t,
             CAST(len(list_distinct(string_split(trim(regexp_replace(
               lower(text), '\s+', ' ', 'g')), ' '))) * 1000000
               // len(string_split(trim(regexp_replace(lower(text),
               '\s+', ' ', 'g')), ' ')) AS BIGINT) AS rel
      FROM documents
    ),
    pool AS MATERIALIZED (
      SELECT doc_id, t, rel FROM toks
      ORDER BY rel DESC, doc_id LIMIT 16
    ),
    sims AS MATERIALIZED (
      SELECT x.doc_id AS a, y.doc_id AS b,
             CAST(len(list_intersect(x.t, y.t)) * 1000000
                  // (len(x.t) + len(y.t)
                      - len(list_intersect(x.t, y.t))) AS BIGINT) AS jac
      FROM pool x JOIN pool y ON x.doc_id <> y.doc_id
    ),
    pick1 AS MATERIALIZED (
      SELECT doc_id, rel, 0::BIGINT AS ms, 1 AS rk,
             7 * rel AS score
      FROM pool ORDER BY rel DESC, doc_id LIMIT 1
    ),
    sel1 AS MATERIALIZED (SELECT doc_id FROM pick1){"".join(steps)}
    SELECT CAST(rk AS BIGINT) AS rank, doc_id,
           CAST(rel AS BIGINT) AS rel_micro,
           CAST(ms AS BIGINT) AS maxsim_micro,
           CAST(score AS BIGINT) AS mmr_score
    FROM ({union}) ORDER BY rank
    """


@query("q_mmr_rerank", oracle=_mmr_oracle())
def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X375 — MMR top-5 over the TTR-relevance top-16 pool:
    pick_k = argmax(7·rel − 3·max_{s∈selected} jaccard(c, s)), doc_id
    tiebreak, λ = 0.7 in exact tenths.

    Exactness: relevance is the integer micro TTR; pairwise
    similarity is exact-integer token-set Jaccard (|∩|·1e6 //
    (|A|+|B|−|∩|) — the union via the inclusion–exclusion identity,
    no engine-ordered list_union); the greedy selection runs
    driver-side over the COLLECTED (pool, sims) integers — a
    16-row/240-pair model-sized frame, the same class as k-means
    centroids (X168) and the BPE argmax (X230), so the loop is pure
    integer Python with a doc_id tiebreak and cannot diverge from the
    oracle's unrolled-CTE arithmetic. Scale shape: ONE TakeOrdered
    top-16 against the corpus + one 240-pair join; the O(K²·pool)
    greedy is constant-sized driver work — MMR's cost at 100 TB is
    candidate generation, which X318/X368 already bound. Output ≤ 5
    rows."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.expr(
            "array_distinct(split(trim(regexp_replace(lower(text),"
            r" '\\s+', ' ')), ' '))"
        ).alias("t"),
        F.expr(
            "CAST(size(array_distinct(split(trim(regexp_replace("
            r"lower(text), '\\s+', ' ')), ' '))) * 1000000"
            r" div size(split(trim(regexp_replace(lower(text), '\\s+',"
            " ' ')), ' ')) AS BIGINT)"
        ).alias("rel"),
    )
    pool = toks.orderBy(F.desc("rel"), "doc_id").limit(16)
    y = pool.select(
        F.col("doc_id").alias("b"), F.col("t").alias("tb")
    )
    sims = (
        pool.select(F.col("doc_id").alias("a"), "t")
        .join(y, F.col("a") != F.col("b"))
        .select(
            "a",
            "b",
            F.expr(
                "CAST(size(array_intersect(t, tb)) * 1000000"
                " div (size(t) + size(tb)"
                " - size(array_intersect(t, tb))) AS BIGINT)"
            ).alias("jac"),
        )
    )
    # model-sized collects: 16 (doc_id, rel) rows + ≤240 integer pairs
    cand = [
        (r["doc_id"], r["rel"])
        for r in pool.select("doc_id", "rel").collect()
    ]
    jac = {(r["a"], r["b"]): r["jac"] for r in sims.collect()}
    selected: list[tuple] = []
    chosen_ids: list[int] = []
    for k in range(1, 6):
        best = None
        for doc_id, rel in cand:
            if doc_id in chosen_ids:
                continue
            ms = max(
                (jac[(doc_id, s)] for s in chosen_ids), default=0
            )
            score = 7 * rel - 3 * ms
            key = (-score, doc_id)
            if best is None or key < best[0]:
                best = (key, doc_id, rel, ms, score)
        if best is None:
            break
        _, doc_id, rel, ms, score = best
        chosen_ids.append(doc_id)
        selected.append((k, doc_id, rel, ms, score))
    return spark.createDataFrame(
        selected,
        "rank long, doc_id long, rel_micro long, maxsim_micro long,"
        " mmr_score long",
    ).orderBy("rank")


# --------------------------------------------------------------------------
# X376 — gain ratio (Quinlan C4.5): IG / splitInfo for the X336 stump
# features — the normalization that stops information gain from
# auto-preferring fragmenting splits.
# --------------------------------------------------------------------------
@query(
    "q_gain_ratio",
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
    fmarg AS (
      SELECT feature, f, CAST(max(cf) AS BIGINT) AS cf,
             CAST(max(n) AS BIGINT) AS n
      FROM m GROUP BY feature, f
    ),
    si AS (
      SELECT feature,
             -sum(CAST(cf AS DOUBLE) / n
                  * ln(CAST(cf AS DOUBLE) / n)) AS split_info
      FROM fmarg GROUP BY feature
    ),
    ent AS (
      SELECT feature,
             sum(CAST(c AS DOUBLE) / n * ln(CAST(c AS DOUBLE) / cf))
               AS neg_hyf
      FROM m GROUP BY feature
    )
    SELECT ent.feature AS feature,
           CAST(round((hy.hy + ent.neg_hyf) * 1000000) AS BIGINT)
             AS ig_micro,
           CAST(round(si.split_info * 1000000) AS BIGINT)
             AS split_info_micro,
           CAST(CASE WHEN si.split_info > 0 THEN
             round((hy.hy + ent.neg_hyf) / si.split_info * 1000000)
             END AS BIGINT) AS gain_ratio_micro
    FROM ent JOIN hy ON hy.feature = ent.feature
    JOIN si ON si.feature = ent.feature
    ORDER BY feature
    """,
)
def q_gain_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X376 — C4.5 gain ratio for the X336 stump features:
    IG(f) / splitInfo(f), splitInfo = −Σ (n_f/n)·ln(n_f/n).

    Exactness: all cell/margin counts are exact integers; the entropy
    sums follow X336's accepted discipline (≤4 double terms per
    feature behind micro rounds); the ratio divides the same two
    doubles both engines computed. Scale shape: one fact-sized
    3×-feature explode into a 12-cell aggregate; everything after is
    feature-sized. Output 3 rows (sort allowlist class a)."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("y"),
        F.when(F.col("value") >= 50, 1).otherwise(0).alias("f_value"),
        F.when(F.expr("EXTRACT(hour FROM ts) >= 12"), 1)
        .otherwise(0)
        .alias("f_hour"),
        F.when(F.expr("user_id % 2 = 0"), 1)
        .otherwise(0)
        .alias("f_parity"),
    )
    feats = base.select(
        F.explode(
            F.expr(
                "array(struct('value_ge_50' AS feature,"
                " f_value AS f, y AS y),"
                " struct('hour_ge_12' AS feature, f_hour AS f, y AS y),"
                " struct('user_parity' AS feature, f_parity AS f,"
                " y AS y))"
            )
        ).alias("s")
    ).select("s.feature", "s.f", "s.y")
    cells = feats.groupBy("feature", "f", "y").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    from pyspark.sql.window import Window as W

    m = cells.select(
        "feature",
        "f",
        "y",
        "c",
        F.sum("c").over(W.partitionBy("feature", "f")).alias("cf"),
        F.sum("c").over(W.partitionBy("feature")).alias("n"),
    )
    ymarg = (
        cells.groupBy("feature", "y")
        .agg(F.sum("c").alias("cy"))
        .select(
            "feature",
            "y",
            "cy",
            F.sum("cy").over(W.partitionBy("feature")).alias("ny"),
        )
    )
    hy = ymarg.groupBy("feature").agg(
        F.expr(
            "-sum(CAST(cy AS DOUBLE) / ny * ln(CAST(cy AS DOUBLE) / ny))"
        ).alias("hy")
    )
    fmarg = m.groupBy("feature", "f").agg(
        F.max("cf").alias("cf"), F.max("n").alias("n")
    )
    si = fmarg.groupBy("feature").agg(
        F.expr(
            "-sum(CAST(cf AS DOUBLE) / n * ln(CAST(cf AS DOUBLE) / n))"
        ).alias("split_info")
    )
    ent = m.groupBy("feature").agg(
        F.expr(
            "sum(CAST(c AS DOUBLE) / n * ln(CAST(c AS DOUBLE) / cf))"
        ).alias("neg_hyf")
    )
    return (
        ent.join(hy, "feature")
        .join(si, "feature")
        .select(
            "feature",
            F.expr(
                "CAST(round((hy + neg_hyf) * 1000000) AS BIGINT)"
            ).alias("ig_micro"),
            F.expr(
                "CAST(round(split_info * 1000000) AS BIGINT)"
            ).alias("split_info_micro"),
            F.expr(
                "CAST(CASE WHEN split_info > 0 THEN"
                " round((hy + neg_hyf) / split_info * 1000000)"
                " END AS BIGINT)"
            ).alias("gain_ratio_micro"),
        )
        .orderBy("feature")
    )


# --------------------------------------------------------------------------
# X377 — Bhattacharyya distance of each source's length-decile mix
# from the corpus mix: D_B = −ln Σ √(p_i·q_i) — the overlap-based
# distribution distance that, unlike X305's JS divergence, has a
# closed geometric meaning (cos of the Hellinger angle) and saturates
# more slowly on disjoint support.
# --------------------------------------------------------------------------
@query(
    "q_bhattacharyya",
    oracle="""
    WITH b AS (
      SELECT source,
             least(CAST(n_chars // 100 AS BIGINT), 19) AS bucket
      FROM documents
    ),
    sb AS (
      SELECT source, bucket, CAST(count(*) AS HUGEINT) AS a
      FROM b GROUP BY 1, 2
    ),
    tb AS (
      SELECT bucket, CAST(sum(a) AS HUGEINT) AS t FROM sb GROUP BY 1
    ),
    st AS (
      SELECT source, CAST(sum(a) AS HUGEINT) AS n1 FROM sb GROUP BY 1
    ),
    nn AS (SELECT CAST(sum(a) AS HUGEINT) AS nt FROM sb),
    terms AS (
      SELECT sb.source AS source,
             CAST(round(sqrt(CAST(a AS DOUBLE) * CAST(t AS DOUBLE)
                  / (CAST(n1 AS DOUBLE) * CAST(nt AS DOUBLE)))
                  * 1000000000) AS HUGEINT) AS bc_nano
      FROM sb JOIN tb USING (bucket)
      JOIN st ON st.source = sb.source
      CROSS JOIN nn
    ),
    agg AS (
      SELECT source, CAST(sum(bc_nano) AS HUGEINT) AS bc
      FROM terms GROUP BY source
    )
    SELECT source,
           CAST(bc AS BIGINT) AS bc_nano,
           CAST(CASE WHEN bc > 0 THEN
             round(-ln(CAST(bc AS DOUBLE) / 1000000000.0) * 1000000)
             END AS BIGINT) AS d_b_micro
    FROM agg ORDER BY source
    """,
)
def q_bhattacharyya(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X377 — per-source Bhattacharyya distance from the corpus over
    the 20-bucket length mix: D_B = −ln Σ_i √(p_i·q_i).

    Exactness: bucket counts and margins are exact integers; each
    √(p·q) term is ONE identical-input double (sqrt of an exact
    integer ratio) quantized to nano PER BUCKET, so the Σ is an
    integer sum (order-independent — the X300 quantize-then-sum rule,
    needed here because a 20-term double sum would be
    aggregation-order-dependent); the final −ln is one data-dependent
    transcendental on the identical integer behind the micro round.
    Scale shape: one doc-sized bucket projection → (source × 20)
    aggregate → source-sized output (sort allowlist class a)."""
    docs = load_table(spark, sf_dir, "documents")
    sb = docs.select(
        "source",
        F.expr(
            "least(CAST(n_chars div 100 AS BIGINT), 19)"
        ).alias("bucket"),
    ).groupBy("source", "bucket").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("a")
    )
    tb = sb.groupBy("bucket").agg(
        F.sum("a").cast("decimal(38,0)").alias("t")
    )
    st = sb.groupBy("source").agg(
        F.sum("a").cast("decimal(38,0)").alias("n1")
    )
    nn = sb.agg(F.sum("a").cast("decimal(38,0)").alias("nt"))
    terms = (
        sb.join(tb, "bucket")
        .join(F.broadcast(st), "source")
        .crossJoin(F.broadcast(nn))
        .select(
            "source",
            F.expr(
                "CAST(round(sqrt(CAST(a AS DOUBLE) * CAST(t AS DOUBLE)"
                " / (CAST(n1 AS DOUBLE) * CAST(nt AS DOUBLE)))"
                " * 1000000000) AS DECIMAL(38,0))"
            ).alias("bc_nano"),
        )
    )
    agg = terms.groupBy("source").agg(
        F.sum("bc_nano").cast("decimal(38,0)").alias("bc")
    )
    return agg.select(
        "source",
        F.col("bc").cast("long").alias("bc_nano"),
        F.expr(
            "CAST(CASE WHEN bc > 0 THEN"
            " round(-ln(CAST(bc AS DOUBLE)"
            " / CAST(1000000000.0 AS DOUBLE)) * 1000000)"
            " END AS BIGINT)"
        ).alias("d_b_micro"),
    ).orderBy("source")


# --------------------------------------------------------------------------
# X378 — Copeland pairwise-majority fusion over the X368 rankers: an
# item's score is (#items it beats under a majority of rankers) −
# (#items that beat it) — the Condorcet-consistent aggregation Borda
# is not (Borda can elect a pairwise loser).
# --------------------------------------------------------------------------
@query(
    "q_copeland_fusion",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, n_chars,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ',
                          'g')), ' ') AS toks
      FROM documents
    ),
    len_list AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id)
                  AS BIGINT) AS r
      FROM toks QUALIFY r <= 10
    ),
    ttr_list AS (
      SELECT doc_id,
             CAST(row_number() OVER (
               ORDER BY CAST(len(list_distinct(toks)) * 1000000
                             // len(toks) AS BIGINT) DESC, doc_id)
               AS BIGINT) AS r
      FROM toks QUALIFY r <= 10
    ),
    md5_list AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                 || '|borda-v1'), 1, 15))::BIGINT, doc_id)
               AS BIGINT) AS r
      FROM toks QUALIFY r <= 10
    ),
    cand AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_id FROM len_list UNION ALL
        SELECT doc_id FROM ttr_list UNION ALL
        SELECT doc_id FROM md5_list
      )
    ),
    ranks AS (
      SELECT c.doc_id,
             COALESCE(l.r, 11) AS r1,
             COALESCE(t.r, 11) AS r2,
             COALESCE(m.r, 11) AS r3
      FROM cand c
      LEFT JOIN len_list l USING (doc_id)
      LEFT JOIN ttr_list t USING (doc_id)
      LEFT JOIN md5_list m USING (doc_id)
    ),
    duels AS (
      SELECT x.doc_id AS a, y.doc_id AS b,
             (CASE WHEN x.r1 < y.r1 THEN 1 ELSE 0 END
              + CASE WHEN x.r2 < y.r2 THEN 1 ELSE 0 END
              + CASE WHEN x.r3 < y.r3 THEN 1 ELSE 0 END) AS wins
      FROM ranks x JOIN ranks y ON x.doc_id <> y.doc_id
    ),
    cop AS (
      SELECT a AS doc_id,
             CAST(sum(CASE WHEN wins >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS beats,
             CAST(sum(CASE WHEN wins <= 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS losses
      FROM duels GROUP BY a
    )
    SELECT doc_id, beats, losses,
           CAST(beats - losses AS BIGINT) AS copeland
    FROM cop ORDER BY copeland DESC, doc_id LIMIT 10
    """,
)
def q_copeland_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X378 — Copeland fusion over the three X368 rankers' top-10s
    (candidates = union; missing rank = 11): score = beats − losses
    under ranker-majority duels. Ties in a duel (impossible here —
    ranks are total orders with the shared doc_id tiebreak) would
    count as a loss for both, consistently on both engines.

    Exactness: ranker keys and all duel comparisons are exact
    integers; the candidate set is ≤30 items so the duel matrix is
    ≤870 integer rows. Scale shape: three TakeOrdered top-10s against
    the corpus; everything after is candidate-set-sized. Output ≤10
    rows (TakeOrdered)."""
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "n_chars",
        F.split(
            F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
        ).alias("toks"),
    )

    def _top10(df, order_cols, out):
        return (
            df.orderBy(*order_cols)
            .limit(10)
            .select(
                "doc_id",
                F.row_number()
                .over(W.partitionBy().orderBy(*order_cols))
                .cast("long")
                .alias(out),
            )
        )

    len_list = _top10(
        toks, [F.desc("n_chars"), F.col("doc_id")], "r1"
    )
    ttr_list = _top10(
        toks.withColumn(
            "ttr",
            F.expr(
                "CAST(size(array_distinct(toks)) * 1000000"
                " div size(toks) AS BIGINT)"
            ),
        ),
        [F.desc("ttr"), F.col("doc_id")],
        "r2",
    )
    md5_list = _top10(
        toks.withColumn(
            "h",
            F.expr(
                "CAST(conv(substr(md5(CAST(doc_id AS STRING)"
                " || '|borda-v1'), 1, 15), 16, 10) AS BIGINT)"
            ),
        ),
        [F.col("h"), F.col("doc_id")],
        "r3",
    )
    ranks = (
        len_list.join(ttr_list, "doc_id", "full")
        .join(md5_list, "doc_id", "full")
        .select(
            "doc_id",
            F.coalesce("r1", F.lit(11)).alias("r1"),
            F.coalesce("r2", F.lit(11)).alias("r2"),
            F.coalesce("r3", F.lit(11)).alias("r3"),
        )
    )
    y = ranks.select(
        F.col("doc_id").alias("b"),
        F.col("r1").alias("s1"),
        F.col("r2").alias("s2"),
        F.col("r3").alias("s3"),
    )
    duels = ranks.join(y, F.col("doc_id") != F.col("b")).select(
        "doc_id",
        (
            (F.col("r1") < F.col("s1")).cast("int")
            + (F.col("r2") < F.col("s2")).cast("int")
            + (F.col("r3") < F.col("s3")).cast("int")
        ).alias("wins"),
    )
    cop = duels.groupBy("doc_id").agg(
        F.sum((F.col("wins") >= 2).cast("int"))
        .cast("long")
        .alias("beats"),
        F.sum((F.col("wins") <= 1).cast("int"))
        .cast("long")
        .alias("losses"),
    )
    return (
        cop.select(
            "doc_id",
            "beats",
            "losses",
            (F.col("beats") - F.col("losses"))
            .cast("long")
            .alias("copeland"),
        )
        .orderBy(F.desc("copeland"), "doc_id")
        .limit(10)
    )


# --------------------------------------------------------------------------
# X379 — Kendall's W (coefficient of concordance) across the three
# X368 rankers over the shared candidate union: do the rankers agree
# AT ALL (W→1) or are they independent orderings (W→0)? The
# m-ranker agreement statistic next to the pairwise τ (X311).
# --------------------------------------------------------------------------
@query(
    "q_kendall_w",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, n_chars,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ',
                          'g')), ' ') AS toks
      FROM documents
    ),
    len_list AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id)
                  AS BIGINT) AS r
      FROM toks QUALIFY r <= 10
    ),
    ttr_list AS (
      SELECT doc_id,
             CAST(row_number() OVER (
               ORDER BY CAST(len(list_distinct(toks)) * 1000000
                             // len(toks) AS BIGINT) DESC, doc_id)
               AS BIGINT) AS r
      FROM toks QUALIFY r <= 10
    ),
    md5_list AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                 || '|borda-v1'), 1, 15))::BIGINT, doc_id)
               AS BIGINT) AS r
      FROM toks QUALIFY r <= 10
    ),
    cand AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_id FROM len_list UNION ALL
        SELECT doc_id FROM ttr_list UNION ALL
        SELECT doc_id FROM md5_list
      )
    ),
    -- within-candidate-set re-ranks (1..n, missing = after present,
    -- doc_id tiebreak) so W's rank-sum algebra sees complete rankings
    rr AS (
      SELECT c.doc_id,
             row_number() OVER (ORDER BY COALESCE(l.r, 11), c.doc_id)
               AS r1,
             row_number() OVER (ORDER BY COALESCE(t.r, 11), c.doc_id)
               AS r2,
             row_number() OVER (ORDER BY COALESCE(m.r, 11), c.doc_id)
               AS r3
      FROM cand c
      LEFT JOIN len_list l USING (doc_id)
      LEFT JOIN ttr_list t USING (doc_id)
      LEFT JOIN md5_list m USING (doc_id)
    ),
    sums AS (
      SELECT doc_id, CAST(r1 + r2 + r3 AS HUGEINT) AS ri FROM rr
    ),
    agg AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(ri) AS HUGEINT) AS sr,
             CAST(sum(ri * ri) AS HUGEINT) AS srr
      FROM sums
    )
    SELECT CAST(n AS BIGINT) AS n_items,
           CAST((n * srr - sr * sr) * 12 * 1000000
                // (n * 9 * (n * n * n - n)) AS BIGINT)
             AS w_micro
    FROM agg
    """,
)
def q_kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X379 — Kendall's W over the candidate union of the three
    top-10 rankers, re-ranked 1..n within the set (missing = 11 with
    doc_id tiebreak): W = 12·S / (m²(n³−n)) with S = Σ(Rᵢ − R̄)²,
    computed as the cross-multiplied integer
    (n·ΣRᵢ² − (ΣRᵢ)²)·12·1e6 // (n·9·(n³−n)) — S is multiplied
    through by n so no rational mean appears, and 12/m² stays in the
    numerator so the ONLY division is the final truncated micro
    presentation (both engines truncate non-negatives identically).

    Exactness: every rank is an exact integer row_number over ≤30
    candidates; S's expansion and the final presentation are pure
    DECIMAL(38) integer arithmetic — no doubles anywhere. Scale
    shape: three TakeOrdered top-10s; the re-rank windows run on the
    ≤30-row candidate set. Output is 1 row."""
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "n_chars",
        F.split(
            F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
        ).alias("toks"),
    )

    def _top10(df, order_cols, out):
        return (
            df.orderBy(*order_cols)
            .limit(10)
            .select(
                "doc_id",
                F.row_number()
                .over(W.partitionBy().orderBy(*order_cols))
                .cast("long")
                .alias(out),
            )
        )

    len_list = _top10(
        toks, [F.desc("n_chars"), F.col("doc_id")], "rl"
    )
    ttr_list = _top10(
        toks.withColumn(
            "ttr",
            F.expr(
                "CAST(size(array_distinct(toks)) * 1000000"
                " div size(toks) AS BIGINT)"
            ),
        ),
        [F.desc("ttr"), F.col("doc_id")],
        "rt",
    )
    md5_list = _top10(
        toks.withColumn(
            "h",
            F.expr(
                "CAST(conv(substr(md5(CAST(doc_id AS STRING)"
                " || '|borda-v1'), 1, 15), 16, 10) AS BIGINT)"
            ),
        ),
        [F.col("h"), F.col("doc_id")],
        "rm",
    )
    cand = (
        len_list.join(ttr_list, "doc_id", "full")
        .join(md5_list, "doc_id", "full")
        .select(
            "doc_id",
            F.coalesce("rl", F.lit(11)).alias("rl"),
            F.coalesce("rt", F.lit(11)).alias("rt"),
            F.coalesce("rm", F.lit(11)).alias("rm"),
        )
    )
    rr = cand.select(
        "doc_id",
        F.row_number()
        .over(W.partitionBy().orderBy("rl", "doc_id"))
        .alias("r1"),
        F.row_number()
        .over(W.partitionBy().orderBy("rt", "doc_id"))
        .alias("r2"),
        F.row_number()
        .over(W.partitionBy().orderBy("rm", "doc_id"))
        .alias("r3"),
    )
    sums = rr.select(
        F.expr("CAST(r1 + r2 + r3 AS DECIMAL(38,0))").alias("ri")
    )
    agg = sums.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("ri").cast("decimal(38,0)").alias("sr"),
        F.sum(F.expr("ri * ri")).cast("decimal(38,0)").alias("srr"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n_items"),
        F.expr(
            "CAST((n * srr - sr * sr) * 12 * 1000000"
            " div (n * 9 * (n * n * n - n)) AS BIGINT)"
        ).alias("w_micro"),
    )


# --------------------------------------------------------------------------
# X380 — user-grouped 5-fold assignment + leakage/balance audit: folds
# keyed on md5(user), never on the event — the split that X290's
# doc-level stratified k-fold cannot give you when rows of one user
# must never straddle train/eval (the leakage every behavioral-model
# eval gets wrong first).
# --------------------------------------------------------------------------
@query(
    "q_grouped_kfold",
    oracle="""
    WITH tagged AS (
      SELECT user_id, event_type,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)
               || '|gkf-v1'), 1, 15))::BIGINT % 5 AS BIGINT) AS fold
      FROM events
    ),
    per_fold AS (
      SELECT fold,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT)
               AS n_purchases
      FROM tagged GROUP BY fold
    ),
    leak AS (
      SELECT CAST(count(*) AS BIGINT) AS leaky_users FROM (
        SELECT user_id FROM tagged
        GROUP BY user_id HAVING count(DISTINCT fold) > 1
      )
    )
    SELECT fold, n_events, n_users, n_purchases,
           CAST(n_purchases * 1000000 // n_events AS BIGINT)
             AS purchase_rate_micro,
           (SELECT leaky_users FROM leak) AS leaky_users
    FROM per_fold ORDER BY fold
    """,
)
def q_grouped_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X380 — md5(user)-keyed 5-fold ledger with the leakage audit
    column (users straddling folds — 0 by construction, ASSERTED in
    the output so a broken re-key is visible, not assumed) and
    per-fold purchase-rate balance.

    Exactness: fold assignment is the 15-hex md5 integer mod 5
    (engine-invariant); all counts are exact; the rate is one
    truncated micro division. Scale shape: one fact-sized projection
    + fold-sized aggregate; the leakage check is a per-user
    distinct-fold aggregate (map-side combined). Output 5 rows (sort
    allowlist class a)."""
    ev = load_table(spark, sf_dir, "events")
    tagged = ev.select(
        "user_id",
        "event_type",
        F.expr(
            "CAST(conv(substr(md5(CAST(user_id AS STRING) || '|gkf-v1'),"
            " 1, 15), 16, 10) AS BIGINT) % 5"
        ).alias("fold"),
    )
    per_fold = tagged.groupBy("fold").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("long")
        .alias("n_purchases"),
    )
    leak = (
        tagged.groupBy("user_id")
        .agg(F.countDistinct("fold").alias("nf"))
        .agg(
            F.sum((F.col("nf") > 1).cast("int"))
            .cast("long")
            .alias("leaky_users")
        )
    )
    return (
        per_fold.crossJoin(F.broadcast(leak))
        .select(
            "fold",
            "n_events",
            "n_users",
            "n_purchases",
            F.expr(
                "CAST(n_purchases * 1000000 div n_events AS BIGINT)"
            ).alias("purchase_rate_micro"),
            "leaky_users",
        )
        .orderBy("fold")
    )


# --------------------------------------------------------------------------
# X381 — label-noise audit (confident-learning-lite): treating the
# X246 rule gate as a NOISY label and the TTR gate as the reference,
# estimate the class-conditional flip rates p(noisy=1|true=0) /
# p(noisy=0|true=1) — the joint-distribution audit run before
# trusting any heuristic labeler at corpus scale.
# --------------------------------------------------------------------------
@query(
    "q_label_noise_audit",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ',
                          'g')), ' ') AS t
      FROM documents
    ),
    rated AS (
      SELECT doc_id,
             (len(t) >= 50 AND
              len(list_distinct(list_intersect(t, {{stops}})))
                >= 2) AS noisy,
             (CAST(len(list_distinct(t)) * 1000000 // len(t) AS BIGINT)
                >= 450000) AS ref
      FROM tok
    ),
    cont AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(count(*) FILTER (noisy AND ref) AS HUGEINT) AS n11,
             CAST(count(*) FILTER (noisy AND NOT ref) AS HUGEINT) AS n10,
             CAST(count(*) FILTER (NOT noisy AND ref) AS HUGEINT) AS n01,
             CAST(count(*) FILTER (NOT noisy AND NOT ref) AS HUGEINT)
               AS n00
      FROM rated
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(n11 AS BIGINT) AS n11, CAST(n10 AS BIGINT) AS n10,
           CAST(n01 AS BIGINT) AS n01, CAST(n00 AS BIGINT) AS n00,
           CAST(CASE WHEN n10 + n00 > 0 THEN
             n10 * 1000000 // (n10 + n00) END AS BIGINT)
             AS false_pos_rate_micro,
           CAST(CASE WHEN n01 + n11 > 0 THEN
             n01 * 1000000 // (n01 + n11) END AS BIGINT)
             AS false_neg_rate_micro,
           CAST((n10 + n01) * 1000000 // n AS BIGINT)
             AS disagreement_micro
    FROM cont
    """.replace("{stops}", _KAPPA_STOPS_SQL_REF),
)
def q_label_noise_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X381 — flip-rate audit of the rule gate against the TTR gate:
    FPR = n10/(n10+n00), FNR = n01/(n01+n11), plus raw disagreement —
    the 2×2 joint X246's kappa summarizes, exposed as the rates a
    relabeling budget is planned from. Gate projections are the
    SHARED _rated_gates algebra (and the stop list is the ONE
    rendered constant — the r14 centralization).

    Exactness: all five cells are exact integer aggregates; every
    rate is a guarded truncated micro division. Scale shape: one
    doc-sized gate projection → 1-row contingency aggregate. Output
    is 1 row."""
    from mysql_cdc_to_http_spark.queries.curation import _rated_gates

    rated = _rated_gates(
        load_table(spark, sf_dir, "documents")
    ).select(
        F.col("ra").alias("noisy"), F.col("rb").alias("ref")
    )
    cont = rated.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum((F.col("noisy") & F.col("ref")).cast("int"))
        .cast("decimal(38,0)")
        .alias("n11"),
        F.sum((F.col("noisy") & ~F.col("ref")).cast("int"))
        .cast("decimal(38,0)")
        .alias("n10"),
        F.sum((~F.col("noisy") & F.col("ref")).cast("int"))
        .cast("decimal(38,0)")
        .alias("n01"),
        F.sum((~F.col("noisy") & ~F.col("ref")).cast("int"))
        .cast("decimal(38,0)")
        .alias("n00"),
    )
    return cont.select(
        F.col("n").cast("long").alias("n_docs"),
        F.col("n11").cast("long").alias("n11"),
        F.col("n10").cast("long").alias("n10"),
        F.col("n01").cast("long").alias("n01"),
        F.col("n00").cast("long").alias("n00"),
        F.expr(
            "CAST(CASE WHEN n10 + n00 > 0 THEN"
            " n10 * 1000000 div (n10 + n00) END AS BIGINT)"
        ).alias("false_pos_rate_micro"),
        F.expr(
            "CAST(CASE WHEN n01 + n11 > 0 THEN"
            " n01 * 1000000 div (n01 + n11) END AS BIGINT)"
        ).alias("false_neg_rate_micro"),
        F.expr(
            "CAST((n10 + n01) * 1000000 div n AS BIGINT)"
        ).alias("disagreement_micro"),
    )


# --------------------------------------------------------------------------
# X382 — two-proportion power curve: the minimum detectable effect at
# 80% power / α=0.05 for the observed purchase rate across a sample-
# size grid — the "how long must this experiment run" table computed
# from the corpus's own base rate (the planning companion of X178's
# post-hoc A/B readout).
# --------------------------------------------------------------------------
_POWER_GRID = (100, 300, 1000, 3000, 10000, 30000)
# z_{0.975} and z_{0.80} as shared literals (the X341 rule: JVM and
# libm inverse-normal would differ; pinning the published constants
# makes the expression identical-input on both engines).
_Z_ALPHA = "1.9599639845400545"
_Z_BETA = "0.8416212335729143"


@query(
    "q_power_curve",
    oracle=f"""
    WITH rate AS (
      SELECT CAST(count(*) FILTER (event_type = 'purchase') AS HUGEINT)
               AS k,
             CAST(count(*) AS HUGEINT) AS n
      FROM events
    ),
    grid AS (SELECT unnest([{", ".join(str(g) for g in _POWER_GRID)}])
             AS n_per_arm)
    SELECT n_per_arm,
           CAST(k * 1000000 // n AS BIGINT) AS base_rate_micro,
           CAST(round(({_Z_ALPHA} + {_Z_BETA})
                * sqrt(2.0 * (CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                       * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                       / n_per_arm) * 1000000) AS BIGINT)
             AS mde_abs_micro
    FROM rate CROSS JOIN grid
    ORDER BY n_per_arm
    """,
)
def q_power_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X382 — MDE(n) = (z_α/2 + z_β)·√(2p(1−p)/n) at 80% power,
    α = 0.05, over a 6-point per-arm sample-size grid, p = the
    corpus's observed purchase rate.

    Exactness: k and n are exact integers; both z constants are
    inlined shared literals (the X341/X346 rule — no inverse-normal
    calls); the MDE is sqrt/arithmetic on identical-input doubles
    behind a micro round. Scale shape: one 1-row rate aggregate
    crossed with a 6-row literal grid. Output 6 rows (sort allowlist
    class a)."""
    ev = load_table(spark, sf_dir, "events")
    rate = ev.agg(
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("decimal(38,0)")
        .alias("k"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
    )
    grid = rate.sparkSession.createDataFrame(
        [(g,) for g in _POWER_GRID], "n_per_arm long"
    )
    return (
        F.broadcast(rate)
        .crossJoin(grid)
        .select(
            "n_per_arm",
            F.expr("CAST(k * 1000000 div n AS BIGINT)").alias(
                "base_rate_micro"
            ),
            F.expr(
                f"CAST(round(({_Z_ALPHA} + {_Z_BETA})"
                " * sqrt(CAST(2.0 AS DOUBLE)"
                " * (CAST(k AS DOUBLE) / CAST(n AS DOUBLE))"
                " * (CAST(1.0 AS DOUBLE)"
                "    - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))"
                " / CAST(n_per_arm AS DOUBLE)) * 1000000) AS BIGINT)"
            ).alias("mde_abs_micro"),
        )
        .orderBy("n_per_arm")
    )


# --------------------------------------------------------------------------
# X383 — bigram-LM cross-entropy per source: train an add-one bigram
# model on EVEN doc_ids, score each source's ODD docs — the
# train/heldout LM-quality screen (which source is out-of-distribution
# for a model of the rest?) one rung above X99's unigram perplexity.
# --------------------------------------------------------------------------
@query(
    "q_bigram_lm_xent",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, source,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ',
                          'g')), ' ') AS t
      FROM documents
    ),
    train_bg AS (
      SELECT t[i] AS w1, t[i + 1] AS w2, CAST(count(*) AS HUGEINT) AS cab
      FROM tok, unnest(range(1, len(t))) AS r(i)
      WHERE doc_id % 2 = 0 AND len(t) >= 2
      GROUP BY 1, 2
    ),
    train_u AS (
      SELECT w1, CAST(sum(cab) AS HUGEINT) AS ca
      FROM train_bg GROUP BY w1
    ),
    vocab AS (
      SELECT CAST(count(DISTINCT w2) AS HUGEINT) AS v FROM train_bg
    ),
    test_bg AS (
      SELECT source, t[i] AS w1, t[i + 1] AS w2,
             CAST(count(*) AS HUGEINT) AS nab
      FROM tok, unnest(range(1, len(t))) AS r(i)
      WHERE doc_id % 2 = 1 AND len(t) >= 2
      GROUP BY 1, 2, 3
    ),
    scored AS (
      SELECT source,
             CAST(sum(nab * (
               round(ln(CAST(COALESCE(ca, 0::HUGEINT) + v AS DOUBLE))
                     * 1000)
               - round(ln(CAST(COALESCE(cab, 0::HUGEINT) + 1 AS DOUBLE))
                       * 1000))) AS HUGEINT) AS hsum,
             CAST(sum(nab) AS HUGEINT) AS n
      FROM test_bg
      LEFT JOIN train_bg USING (w1, w2)
      LEFT JOIN train_u USING (w1)
      CROSS JOIN vocab
      GROUP BY source
    )
    SELECT source,
           CAST(n AS BIGINT) AS n_test_bigrams,
           CAST(hsum // n AS BIGINT) AS xent_milli
    FROM scored ORDER BY source
    """,
)
def q_bigram_lm_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X383 — add-one bigram LM cross-entropy per source:
    H = Σ n_ab·[ln(c_train(w1)+V) − ln(c_train(w1w2)+1)] / N over the
    odd-doc heldout, model trained on even docs, V = train bigram-
    continuation vocabulary.

    Exactness: all counts are exact integers; each ln is
    milli-quantized per distinct integer (X300 rule: smoothed counts
    c+1 and c_a+V are integers, so one transcendental per value and
    pure BIGINT arithmetic after), making the per-source sum
    order-independent; OOV bigrams/contexts hit the same COALESCE(0)
    path on both engines; the final division is one truncated milli
    presentation of a non-negative sum (ln(ca+V) ≥ ln(cab+1) since
    ca ≥ cab and V ≥ 1). Scale shape: two fact-sized bigram
    aggregates (train/test split by doc-id parity, map-side
    combined), one vocab-sized join pair, source-sized output (sort
    allowlist class a)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "source",
        F.split(
            F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
        ).alias("t"),
    ).repartition(spark.sparkContext.defaultParallelism)
    bg = F.explode(
        F.expr(
            "transform(sequence(0, size(t) - 2),"
            " i -> struct(t[i] AS w1, t[i + 1] AS w2))"
        )
    )
    # r16 (guide §2.4/§5): the unigram rollup, the vocabulary count and
    # the scoring join each re-derived the train bigram table — and the
    # fact-sized tokenize+explode under it — per consumer (measured
    # plan: 16 Exchange / 4 scans). The table is bigram-vocabulary-
    # sized (Heaps-sublinear): persist it, one train explode pass.
    train_bg = caching.persist(
        tok.filter(F.expr("doc_id % 2 = 0 AND size(t) >= 2"))
        .select(bg.alias("b"))
        .select("b.w1", "b.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("cab"))
    )
    train_u = train_bg.groupBy("w1").agg(
        F.sum("cab").cast("decimal(38,0)").alias("ca")
    )
    vocab = train_bg.agg(
        F.countDistinct("w2").cast("decimal(38,0)").alias("v")
    )
    test_bg = (
        tok.filter(F.expr("doc_id % 2 = 1 AND size(t) >= 2"))
        .select("source", bg.alias("b"))
        .select("source", "b.w1", "b.w2")
        .groupBy("source", "w1", "w2")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("nab"))
    )
    scored = (
        test_bg.join(train_bg, ["w1", "w2"], "left")
        .join(train_u, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .groupBy("source")
        .agg(
            F.sum(
                F.expr(
                    "nab * ("
                    " round(ln(CAST(COALESCE(ca, CAST(0 AS"
                    " DECIMAL(38,0))) + v AS DOUBLE)) * 1000)"
                    " - round(ln(CAST(COALESCE(cab, CAST(0 AS"
                    " DECIMAL(38,0))) + 1 AS DOUBLE)) * 1000))"
                )
            )
            .cast("decimal(38,0)")
            .alias("hsum"),
            F.sum("nab").cast("decimal(38,0)").alias("n"),
        )
    )
    return scored.select(
        "source",
        F.col("n").cast("long").alias("n_test_bigrams"),
        F.expr("CAST(hsum div n AS BIGINT)").alias("xent_milli"),
    ).orderBy("source")


# --------------------------------------------------------------------------
# X384 — Durbin–Watson autocorrelated-residuals test for the daily
# revenue OLS per event type, computed ENTIRELY in integers: the
# residual scale cancels in DW = Σ(Δe)²/Σe², so e is carried as the
# exact integer n·den·x_i − n·num_b·i − (den·Σx − num_b·Σi) (the OLS
# normal equations multiplied through) and no division happens until
# the final micro presentation. DW≈2 ⇒ independent residuals; the
# trend-misfit autocorrelation X127's slope alone cannot see.
# --------------------------------------------------------------------------
@query(
    "q_durbin_watson",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(sum(CAST(round(value * 100, 0) AS HUGEINT))
                  AS HUGEINT) AS x
      FROM events GROUP BY 1, 2
    ),
    seq AS (
      SELECT event_type, d, x,
             CAST(row_number() OVER (PARTITION BY event_type
                  ORDER BY d) - 1 AS HUGEINT) AS i
      FROM daily
    ),
    mo AS (
      SELECT event_type,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(i) AS HUGEINT) AS si,
             CAST(sum(x) AS HUGEINT) AS sx,
             CAST(sum(i * i) AS HUGEINT) AS sii,
             CAST(sum(i * x) AS HUGEINT) AS six
      FROM seq GROUP BY 1
    ),
    res AS (
      SELECT seq.event_type AS event_type, d, i,
             -- scaled residual: n·den·x − n·num_b·i − (den·sx − num_b·si)
             n * (n * sii - si * si) * x
               - n * (n * six - si * sx) * i
               - ((n * sii - si * si) * sx - (n * six - si * sx) * si)
               AS e
      FROM seq JOIN mo ON mo.event_type = seq.event_type
      WHERE n >= 3 AND n * sii - si * si > 0
    ),
    lagd AS (
      SELECT a.event_type AS event_type, a.e AS e, b.e AS ep
      FROM res a LEFT JOIN res b
        ON b.event_type = a.event_type AND b.i = a.i - 1
    ),
    agg AS (
      SELECT event_type,
             CAST(sum(CASE WHEN ep IS NOT NULL
                  THEN (e - ep) * (e - ep) END) AS HUGEINT) AS sdiff,
             CAST(sum(e * e) AS HUGEINT) AS se2,
             CAST(count(*) AS BIGINT) AS n_days
      FROM lagd GROUP BY event_type
    )
    SELECT event_type, n_days,
           CAST(CASE WHEN se2 > 0 THEN sdiff * 1000000 // se2 END
                AS BIGINT) AS dw_micro
    FROM agg ORDER BY event_type
    """,
)
def q_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X384 — all-integer Durbin–Watson per event type on the daily
    OLS residuals (day index off each type's own calendar).

    Exactness: NO doubles anywhere — residuals are exact integers
    scaled by n·den (den = nΣi²−(Σi)², the OLS denominator), the
    scale cancels in the DW ratio, and the one division is the final
    truncated micro presentation of two non-negative sums. Magnitude
    audit: |e| ≤ n·den·max(x) ≈ 150·3.4e6·1e7 ≈ 5e15, e² ≈ 2.5e31,
    summed ≈ 4e33 — inside DECIMAL(38). Scale shape: fact-sized daily
    rollup → per-type moments → calendar-bounded lag self-join →
    type-sized output (sort allowlist class a)."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(
        F.sum(F.expr("CAST(round(value * 100, 0) AS DECIMAL(38,0))"))
        .cast("decimal(38,0)")
        .alias("x")
    )
    seq = daily.select(
        "event_type",
        "d",
        "x",
        (
            F.row_number()
            .over(W.partitionBy("event_type").orderBy("d"))
            - 1
        )
        .cast("decimal(38,0)")
        .alias("i"),
    )
    mo = seq.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("i").cast("decimal(38,0)").alias("si"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum(F.expr("i * i")).cast("decimal(38,0)").alias("sii"),
        F.sum(F.expr("i * x")).cast("decimal(38,0)").alias("six"),
    )
    res = (
        seq.join(mo, "event_type")
        .filter(F.expr("n >= 3 AND n * sii - si * si > 0"))
        .select(
            "event_type",
            "i",
            F.expr(
                "CAST(n * (n * sii - si * si) * x"
                " - n * (n * six - si * sx) * i"
                " - ((n * sii - si * si) * sx"
                "    - (n * six - si * sx) * si) AS DECIMAL(38,0))"
            ).alias("e"),
        )
    )
    b = res.select(
        F.col("event_type").alias("et2"),
        (F.col("i") + 1).alias("i2"),
        F.col("e").alias("ep"),
    )
    lagd = res.join(
        b,
        (F.col("event_type") == F.col("et2"))
        & (F.col("i") == F.col("i2")),
        "left",
    )
    agg = lagd.groupBy("event_type").agg(
        F.sum(
            F.when(
                F.col("ep").isNotNull(),
                (F.col("e") - F.col("ep")) * (F.col("e") - F.col("ep")),
            )
        )
        .cast("decimal(38,0)")
        .alias("sdiff"),
        F.sum(F.expr("e * e")).cast("decimal(38,0)").alias("se2"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    return agg.select(
        "event_type",
        "n_days",
        F.expr(
            "CAST(CASE WHEN se2 > 0 THEN sdiff * 1000000 div se2 END"
            " AS BIGINT)"
        ).alias("dw_micro"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# X385 — Jarque–Bera normality test of event values per type:
# JB = n/6·(S² + K²/4) from exact integer raw moments — the
# skew+kurtosis omnibus behind every "is this metric Gaussian enough
# for the z-tests we just ran" footnote (gates X292/X312/X351).
# --------------------------------------------------------------------------
@query(
    "q_jarque_bera",
    oracle="""
    WITH base AS (
      SELECT event_type,
             CAST(round(value * 100, 0) AS HUGEINT) AS x
      FROM events
    ),
    mo AS (
      SELECT event_type,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS s1,
             CAST(sum(x * x) AS HUGEINT) AS s2,
             CAST(sum(x * x * x) AS HUGEINT) AS s3,
             CAST(sum(x * x * x * x) AS HUGEINT) AS s4
      FROM base GROUP BY 1
    ),
    ctr AS (
      -- central moments scaled by n^k (integer): mu2·n² = n·s2 − s1²,
      -- mu3·n³ = n²·s3 − 3n·s2·s1 + 2s1³,
      -- mu4·n⁴ = n³·s4 − 4n²·s3·s1 + 6n·s2·s1² − 3s1⁴
      SELECT event_type, n,
             CAST(n * s2 - s1 * s1 AS DOUBLE) AS m2n2,
             CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(s3 AS DOUBLE)
               - 3.0 * CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                 * CAST(s1 AS DOUBLE)
               + 2.0 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                 * CAST(s1 AS DOUBLE) AS m3n3,
             CAST(n AS DOUBLE)
               * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                  * CAST(s4 AS DOUBLE)
                - 4.0 * CAST(n AS DOUBLE) * CAST(s3 AS DOUBLE)
                  * CAST(s1 AS DOUBLE)
                + 6.0 * CAST(s2 AS DOUBLE) * CAST(s1 AS DOUBLE)
                  * CAST(s1 AS DOUBLE)
                - 3.0 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                  * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                  / CAST(n AS DOUBLE)) AS m4n4
      FROM mo WHERE n >= 4
    ),
    jb AS (
      SELECT event_type, n,
             m3n3 / (sqrt(m2n2) * m2n2) AS skew,
             m4n4 / (m2n2 * m2n2) - 3.0 AS exkurt
      FROM ctr WHERE m2n2 > 0
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_events,
           CAST(round(skew * 1000000) AS BIGINT) AS skew_micro,
           CAST(round(exkurt * 1000000) AS BIGINT) AS exkurt_micro,
           CAST(round(CAST(n AS DOUBLE) / 6.0
                * (skew * skew + exkurt * exkurt / 4.0) * 1000)
                AS BIGINT) AS jb_milli,
           CAST(n AS DOUBLE) / 6.0
             * (skew * skew + exkurt * exkurt / 4.0)
             > 5.991464547107979 AS non_normal
    FROM jb ORDER BY event_type
    """,
)
def q_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X385 — Jarque–Bera per type: S = μ₃/μ₂^1.5 and excess K from
    n-scaled central-moment expansions. μ₂n² stays a pure
    DECIMAL(38) integer; μ₃n³ and μ₄n⁴ combine the exact integer
    raw moments in DOUBLE (every operand cast identically on both
    engines, and the n-powers cancel algebraically in S and K so no
    scale leaks). r15 ADVICE fix: μ₃n³'s 2s1³ term was previously
    kept in DECIMAL(38)/HUGEINT, which silently hits the 38-digit
    cliff once s1 ≳ 7e12 (s1 grows linearly with rows — large-SF
    events would NULL on Spark and overflow-error on DuckDB); it now
    uses the same identically-cast-double combination the μ₄n⁴
    magnitude audit already mandated for the s1⁴ term. JB gated on
    the χ²(2) 0.05 literal 5.991464547107979 (shared, the X341
    rule).

    Scale shape: one scan → type-sized raw-moment aggregate (map-side
    combined) → constant arithmetic. Output ≤ #types rows (sort
    allowlist class a)."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.expr("CAST(round(value * 100, 0) AS DECIMAL(38,0))").alias(
            "x"
        ),
    )
    mo = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("s1"),
        F.sum(F.expr("x * x")).cast("decimal(38,0)").alias("s2"),
        F.sum(F.expr("x * x * x")).cast("decimal(38,0)").alias("s3"),
        F.sum(F.expr("x * x * x * x"))
        .cast("decimal(38,0)")
        .alias("s4"),
    )
    ctr = mo.filter(F.col("n") >= 4).select(
        "event_type",
        "n",
        F.expr("CAST(n * s2 - s1 * s1 AS DOUBLE)").alias("m2n2"),
        F.expr(
            "CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(s3 AS DOUBLE)"
            " - CAST(3.0 AS DOUBLE) * CAST(n AS DOUBLE)"
            "   * CAST(s2 AS DOUBLE) * CAST(s1 AS DOUBLE)"
            " + CAST(2.0 AS DOUBLE) * CAST(s1 AS DOUBLE)"
            "   * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
        ).alias("m3n3"),
        F.expr(
            "CAST(n AS DOUBLE)"
            " * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
            "    * CAST(s4 AS DOUBLE)"
            "  - CAST(4.0 AS DOUBLE) * CAST(n AS DOUBLE)"
            "    * CAST(s3 AS DOUBLE) * CAST(s1 AS DOUBLE)"
            "  + CAST(6.0 AS DOUBLE) * CAST(s2 AS DOUBLE)"
            "    * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
            "  - CAST(3.0 AS DOUBLE) * CAST(s1 AS DOUBLE)"
            "    * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
            "    * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
        ).alias("m4n4"),
    )
    jb = ctr.filter(F.col("m2n2") > 0).select(
        "event_type",
        "n",
        F.expr("m3n3 / (sqrt(m2n2) * m2n2)").alias("skew"),
        F.expr(
            "m4n4 / (m2n2 * m2n2) - CAST(3.0 AS DOUBLE)"
        ).alias("exkurt"),
    )
    return jb.select(
        "event_type",
        F.col("n").cast("long").alias("n_events"),
        F.expr("CAST(round(skew * 1000000) AS BIGINT)").alias(
            "skew_micro"
        ),
        F.expr("CAST(round(exkurt * 1000000) AS BIGINT)").alias(
            "exkurt_micro"
        ),
        F.expr(
            "CAST(round(CAST(n AS DOUBLE) / CAST(6.0 AS DOUBLE)"
            " * (skew * skew + exkurt * exkurt / CAST(4.0 AS DOUBLE))"
            " * 1000) AS BIGINT)"
        ).alias("jb_milli"),
        F.expr(
            "CAST(n AS DOUBLE) / CAST(6.0 AS DOUBLE)"
            " * (skew * skew + exkurt * exkurt / CAST(4.0 AS DOUBLE))"
            " > CAST(5.991464547107979 AS DOUBLE)"
        ).alias("non_normal"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# X386 — Grubbs-style extreme-deviation statistic per type:
# G = max|x − x̄| / s with the conservative 3σ flag — "is the single
# worst point an outlier" (what X119's MAD fences answer for the
# bulk, G answers for the one maximum; the Grubbs critical value is
# df-dependent, so the report gates on the fixed 3σ literal and
# emits G for the analyst's own table lookup).
# --------------------------------------------------------------------------
@query(
    "q_grubbs_stat",
    oracle="""
    WITH base AS (
      SELECT event_type,
             CAST(round(value * 100, 0) AS HUGEINT) AS x
      FROM events
    ),
    mo AS (
      SELECT event_type,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS s1,
             CAST(sum(x * x) AS HUGEINT) AS s2,
             CAST(max(x) AS HUGEINT) AS xmax,
             CAST(min(x) AS HUGEINT) AS xmin
      FROM base GROUP BY 1
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_events,
           CAST(greatest(n * xmax - s1, s1 - n * xmin) AS BIGINT)
             AS max_dev_n_scaled,
           CAST(CASE WHEN n * s2 - s1 * s1 > 0 AND n >= 2 THEN round(
             CAST(greatest(n * xmax - s1, s1 - n * xmin) AS DOUBLE)
             / CAST(n AS DOUBLE)
             / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)
                    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
             * 1000000) END AS BIGINT) AS g_micro,
           CASE WHEN n * s2 - s1 * s1 > 0 AND n >= 2 THEN
             CAST(greatest(n * xmax - s1, s1 - n * xmin) AS DOUBLE)
             / CAST(n AS DOUBLE)
             / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)
                    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
             > 3.0 END AS beyond_3_sigma
    FROM mo ORDER BY event_type
    """,
)
def q_grubbs_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X386 — G = max(n·x_max − Σx, Σx − n·x_min) / (n·s) per type,
    flagged at the 3σ literal.

    Exactness: the n-scaled max deviation is pure integer (max/min
    and moments are exact); G divides identical-input doubles (one
    sqrt) behind a micro round; the flag compares the SAME double to
    the shared 3.0 literal. Scale shape: one scan → type-sized
    moment aggregate → constant arithmetic (sort allowlist class
    a)."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.expr("CAST(round(value * 100, 0) AS DECIMAL(38,0))").alias(
            "x"
        ),
    )
    mo = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("s1"),
        F.sum(F.expr("x * x")).cast("decimal(38,0)").alias("s2"),
        F.max("x").cast("decimal(38,0)").alias("xmax"),
        F.min("x").cast("decimal(38,0)").alias("xmin"),
    )
    gexpr = (
        "CAST(greatest(n * xmax - s1, s1 - n * xmin) AS DOUBLE)"
        " / CAST(n AS DOUBLE)"
        " / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)"
        "        / (CAST(n AS DOUBLE)"
        "           * (CAST(n AS DOUBLE) - CAST(1.0 AS DOUBLE))))"
    )
    guard = "n * s2 - s1 * s1 > 0 AND n >= 2"
    return mo.select(
        "event_type",
        F.col("n").cast("long").alias("n_events"),
        F.expr(
            "CAST(greatest(n * xmax - s1, s1 - n * xmin) AS BIGINT)"
        ).alias("max_dev_n_scaled"),
        F.expr(
            f"CAST(CASE WHEN {guard} THEN round(({gexpr}) * 1000000)"
            " END AS BIGINT)"
        ).alias("g_micro"),
        F.expr(
            f"CASE WHEN {guard} THEN ({gexpr})"
            " > CAST(3.0 AS DOUBLE) END"
        ).alias("beyond_3_sigma"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# X387 — Breusch–Pagan heteroscedasticity screen for the daily
# revenue OLS per type: BP = n·R² of e² regressed on the day index,
# χ²(1) gate — "does residual VARIANCE trend with time?", the
# misspecification the X127 slope and X384's DW both miss.
# --------------------------------------------------------------------------
@query(
    "q_breusch_pagan",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(sum(CAST(round(value * 100, 0) AS HUGEINT))
                  AS HUGEINT) AS x
      FROM events GROUP BY 1, 2
    ),
    seq AS (
      SELECT event_type, d, x,
             CAST(row_number() OVER (PARTITION BY event_type
                  ORDER BY d) - 1 AS HUGEINT) AS i
      FROM daily
    ),
    mo AS (
      SELECT event_type,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(i) AS HUGEINT) AS si,
             CAST(sum(x) AS HUGEINT) AS sx,
             CAST(sum(i * i) AS HUGEINT) AS sii,
             CAST(sum(i * x) AS HUGEINT) AS six
      FROM seq GROUP BY 1
    ),
    res AS (
      -- residual in exact CENTS via the X216 sign-corrected div of
      -- the n·den-scaled integer residual
      SELECT seq.event_type AS event_type, i,
             CASE WHEN n * (n * sii - si * si) * x
                       - n * (n * six - si * sx) * i
                       - ((n * sii - si * si) * sx
                          - (n * six - si * sx) * si) >= 0
               THEN (n * (n * sii - si * si) * x
                     - n * (n * six - si * sx) * i
                     - ((n * sii - si * si) * sx
                        - (n * six - si * sx) * si))
                    // (n * (n * sii - si * si))
               ELSE -((-(n * (n * sii - si * si) * x
                         - n * (n * six - si * sx) * i
                         - ((n * sii - si * si) * sx
                            - (n * six - si * sx) * si)))
                      // (n * (n * sii - si * si)))
             END AS ec
      FROM seq JOIN mo ON mo.event_type = seq.event_type
      WHERE n >= 4 AND n * sii - si * si > 0
    ),
    aux AS (
      SELECT event_type,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(i) AS HUGEINT) AS si,
             CAST(sum(i * i) AS HUGEINT) AS sii,
             CAST(sum(ec * ec) AS HUGEINT) AS sy,
             CAST(sum(i * ec * ec) AS HUGEINT) AS siy,
             CAST(sum(ec * ec * ec * ec) AS HUGEINT) AS syy
      FROM res GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
           CAST(CASE WHEN (n * sii - si * si) > 0
                      AND (n * syy - sy * sy) > 0 THEN round(
             CAST(n AS DOUBLE)
             * (CAST(n * siy - si * sy AS DOUBLE)
                * CAST(n * siy - si * sy AS DOUBLE))
             / (CAST(n * sii - si * si AS DOUBLE)
                * CAST(n * syy - sy * sy AS DOUBLE)) * 1000)
             END AS BIGINT) AS bp_milli,
           CASE WHEN (n * sii - si * si) > 0
                 AND (n * syy - sy * sy) > 0 THEN
             CAST(n AS DOUBLE)
             * (CAST(n * siy - si * sy AS DOUBLE)
                * CAST(n * siy - si * sy AS DOUBLE))
             / (CAST(n * sii - si * si AS DOUBLE)
                * CAST(n * syy - sy * sy AS DOUBLE))
             > 3.841458820694124 END AS heteroscedastic
    FROM aux ORDER BY event_type
    """,
)
def q_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X387 — BP = n·R²(e² ~ i) per type, gated on the χ²(1) 0.05
    literal 3.841458820694124.

    Exactness: residuals quantize to exact integer CENTS via the
    X216 sign-corrected div of the n·den-scaled integer form (both
    engines truncate identically); the auxiliary-regression moments
    are then exact integers (magnitude audit: ec ≤ ~1e7 cents, ec⁴ ≤
    1e28, summed ≤ ~1.5e30 — inside DECIMAL(38); the R² numerator
    (n·siy − si·sy)² is computed in double to stay under 38 digits,
    from identically-cast exact integers); the gate compares the
    same double to the shared literal. Scale shape: fact-sized daily
    rollup → per-type moments → calendar-bounded residual projection
    → type-sized aux moments (sort allowlist class a)."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(
        F.sum(F.expr("CAST(round(value * 100, 0) AS DECIMAL(38,0))"))
        .cast("decimal(38,0)")
        .alias("x")
    )
    seq = daily.select(
        "event_type",
        "x",
        (
            F.row_number()
            .over(W.partitionBy("event_type").orderBy("d"))
            - 1
        )
        .cast("decimal(38,0)")
        .alias("i"),
    )
    mo = seq.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("i").cast("decimal(38,0)").alias("si"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum(F.expr("i * i")).cast("decimal(38,0)").alias("sii"),
        F.sum(F.expr("i * x")).cast("decimal(38,0)").alias("six"),
    )
    enum = (
        "(n * (n * sii - si * si) * x"
        " - n * (n * six - si * sx) * i"
        " - ((n * sii - si * si) * sx - (n * six - si * sx) * si))"
    )
    res = (
        seq.join(mo, "event_type")
        .filter(F.expr("n >= 4 AND n * sii - si * si > 0"))
        .select(
            "event_type",
            "i",
            F.expr(
                f"CAST(CASE WHEN {enum} >= 0"
                f" THEN {enum} div (n * (n * sii - si * si))"
                f" ELSE -((-{enum}) div (n * (n * sii - si * si)))"
                " END AS DECIMAL(38,0))"
            ).alias("ec"),
        )
    )
    aux = res.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("i").cast("decimal(38,0)").alias("si"),
        F.sum(F.expr("i * i")).cast("decimal(38,0)").alias("sii"),
        F.sum(F.expr("ec * ec")).cast("decimal(38,0)").alias("sy"),
        F.sum(F.expr("i * ec * ec"))
        .cast("decimal(38,0)")
        .alias("siy"),
        F.sum(F.expr("ec * ec * ec * ec"))
        .cast("decimal(38,0)")
        .alias("syy"),
    )
    bp = (
        "CAST(n AS DOUBLE)"
        " * (CAST(n * siy - si * sy AS DOUBLE)"
        "    * CAST(n * siy - si * sy AS DOUBLE))"
        " / (CAST(n * sii - si * si AS DOUBLE)"
        "    * CAST(n * syy - sy * sy AS DOUBLE))"
    )
    guard = "(n * sii - si * si) > 0 AND (n * syy - sy * sy) > 0"
    return aux.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        F.expr(
            f"CAST(CASE WHEN {guard} THEN round(({bp}) * 1000)"
            " END AS BIGINT)"
        ).alias("bp_milli"),
        F.expr(
            f"CASE WHEN {guard} THEN ({bp})"
            " > CAST(3.841458820694124 AS DOUBLE) END"
        ).alias("heteroscedastic"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# X388 — Tukey HSD pairwise means: every event-type pair's mean-cents
# gap against the honestly-significant-difference bound
# q·√(MSW/2·(1/nᵢ+1/nⱼ)) with q_{0.05,5,∞} = 3.858 inlined — the
# which-pairs-differ follow-up X312's omnibus F deliberately stops
# short of.
# --------------------------------------------------------------------------
@query(
    "q_tukey_hsd",
    oracle="""
    WITH base AS (
      SELECT event_type,
             CAST(round(value * 100, 0) AS HUGEINT) AS x
      FROM events
    ),
    g AS (
      SELECT event_type,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS s,
             CAST(sum(x * x) AS HUGEINT) AS q
      FROM base GROUP BY 1
    ),
    msw AS (
      SELECT CAST(sum(CAST(q AS DOUBLE)
                      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                        / CAST(n AS DOUBLE)) AS DOUBLE)
               / CAST(sum(n) - count(*) AS DOUBLE) AS msw
      FROM g
    ),
    pairs AS (
      SELECT a.event_type AS t1, b.event_type AS t2,
             a.n AS n1, b.n AS n2, a.s AS s1, b.s AS s2
      FROM g a JOIN g b ON a.event_type < b.event_type
    )
    SELECT t1, t2,
           CAST(s1 * 10000 // n1 - s2 * 10000 // n2 AS BIGINT)
             AS diff_micro,
           CAST(round(3.858 * sqrt(msw / 2.0
                * (1.0 / CAST(n1 AS DOUBLE)
                   + 1.0 / CAST(n2 AS DOUBLE))) * 10000) AS BIGINT)
             AS hsd_micro,
           abs(CAST(s1 * 10000 // n1 - s2 * 10000 // n2 AS BIGINT))
             > CAST(round(3.858 * sqrt(msw / 2.0
                 * (1.0 / CAST(n1 AS DOUBLE)
                    + 1.0 / CAST(n2 AS DOUBLE))) * 10000) AS BIGINT)
             AS significant
    FROM pairs CROSS JOIN msw
    ORDER BY t1, t2
    """,
)
def q_tukey_hsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X388 — Tukey HSD over all type pairs: |mean gap| vs the HSD
    bound at q_{0.05, k=5, df=∞} = 3.858 (shared literal — the exact
    studentized-range quantile is df-dependent, and at these group
    sizes the ∞ row of the published table is the right constant).

    Exactness: group moments are exact integers; means present as
    truncated integer micro (cents × 10000); MSW and the bound are
    identical-input double arithmetic (one sqrt) behind a micro
    round, and the significance compare is INTEGER (|diff_micro| vs
    the rounded bound) so the flag can't split engines at the 15th
    digit. Scale shape: one scan → type-sized moments → pair-sized
    (≤10 rows) join (sort allowlist class a)."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.expr("CAST(round(value * 100, 0) AS DECIMAL(38,0))").alias(
            "x"
        ),
    )
    g = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("s"),
        F.sum(F.expr("x * x")).cast("decimal(38,0)").alias("q"),
    )
    msw = g.agg(
        F.expr(
            "CAST(sum(CAST(q AS DOUBLE)"
            " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)"
            "   / CAST(n AS DOUBLE)) AS DOUBLE)"
            " / CAST(sum(n) - count(*) AS DOUBLE)"
        ).alias("msw")
    )
    b = g.select(
        F.col("event_type").alias("t2"),
        F.col("n").alias("n2"),
        F.col("s").alias("s2"),
    )
    pairs = (
        g.select(
            F.col("event_type").alias("t1"),
            F.col("n").alias("n1"),
            F.col("s").alias("s1"),
        )
        .join(b, F.col("t1") < F.col("t2"))
        .crossJoin(F.broadcast(msw))
    )
    hsd = (
        "CAST(round(CAST(3.858 AS DOUBLE) * sqrt(msw"
        " / CAST(2.0 AS DOUBLE)"
        " * (CAST(1.0 AS DOUBLE) / CAST(n1 AS DOUBLE)"
        "    + CAST(1.0 AS DOUBLE) / CAST(n2 AS DOUBLE)))"
        " * 10000) AS BIGINT)"
    )
    return pairs.select(
        "t1",
        "t2",
        F.expr(
            "CAST(s1 * 10000 div n1 - s2 * 10000 div n2 AS BIGINT)"
        ).alias("diff_micro"),
        F.expr(hsd).alias("hsd_micro"),
        F.expr(
            "abs(CAST(s1 * 10000 div n1 - s2 * 10000 div n2"
            f" AS BIGINT)) > {hsd}"
        ).alias("significant"),
    ).orderBy("t1", "t2")


# --------------------------------------------------------------------------
# X389 — cohort variance-ratio report: F = s²_A/s²_B between the
# split-hash cohorts per type (larger variance up top by convention)
# — the variance-stability companion of X374's winsorized mean gap;
# no significance gate (the F critical value is df-dependent), the
# report IS the deliverable.
# --------------------------------------------------------------------------
@query(
    "q_f_ratio_cohorts",
    oracle="""
    WITH base AS (
      SELECT event_type,
             CAST(round(value * 100, 0) AS HUGEINT) AS x,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
               ::BIGINT % 2 AS cohort
      FROM events
    ),
    g AS (
      SELECT event_type, cohort,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS s,
             CAST(sum(x * x) AS HUGEINT) AS q
      FROM base GROUP BY 1, 2
    ),
    w AS (
      SELECT a.event_type AS event_type,
             a.n AS n0, b.n AS n1,
             CAST(a.n * a.q - a.s * a.s AS HUGEINT) AS v0num,
             CAST(a.n * (a.n - 1) AS HUGEINT) AS v0den,
             CAST(b.n * b.q - b.s * b.s AS HUGEINT) AS v1num,
             CAST(b.n * (b.n - 1) AS HUGEINT) AS v1den
      FROM g a JOIN g b ON a.event_type = b.event_type
      WHERE a.cohort = 0 AND b.cohort = 1
        AND a.n >= 2 AND b.n >= 2
    )
    SELECT event_type,
           CAST(n0 AS BIGINT) AS n_a, CAST(n1 AS BIGINT) AS n_b,
           -- F with the LARGER sample variance in the numerator,
           -- cross-multiplied integer comparison picks the side
           CAST(CASE WHEN v0num > 0 AND v1num > 0 THEN
             CASE WHEN v0num * v1den >= v1num * v0den
               THEN v0num * v1den * 1000000 // (v1num * v0den)
               ELSE v1num * v0den * 1000000 // (v0num * v1den) END
             END AS BIGINT) AS f_micro,
           CASE WHEN v0num > 0 AND v1num > 0 THEN
             v0num * v1den >= v1num * v0den END AS a_larger
    FROM w ORDER BY event_type
    """,
)
def q_f_ratio_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X389 — per-type cohort variance ratio, larger variance on top:
    F = (v_big/v_small) as ONE truncated micro division of exact
    integer cross-products (s² = (nΣx²−(Σx)²)/(n(n−1)) never
    materializes as a float — the n(n−1) scales cancel in the ratio's
    cross-multiplied form only when kept explicit, so both num/den
    pairs ride along as integers).

    Exactness: all-integer; the side pick is a cross-multiplied
    integer comparison; degenerate cohorts (n<2 or zero variance)
    emit NULL identically. Scale shape: one scan → (type × 2)-sized
    moment aggregate → type-sized join (sort allowlist class a)."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.expr("CAST(round(value * 100, 0) AS DECIMAL(38,0))").alias(
            "x"
        ),
        F.expr(
            "CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 15),"
            " 16, 10) AS BIGINT) % 2"
        ).alias("cohort"),
    )
    g = base.groupBy("event_type", "cohort").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("s"),
        F.sum(F.expr("x * x")).cast("decimal(38,0)").alias("q"),
    )
    a = g.filter(F.col("cohort") == 0).select(
        "event_type",
        F.col("n").alias("na"),
        F.expr("CAST(n * q - s * s AS DECIMAL(38,0))").alias("v0num"),
        F.expr("CAST(n * (n - 1) AS DECIMAL(38,0))").alias("v0den"),
    )
    b = g.filter(F.col("cohort") == 1).select(
        "event_type",
        F.col("n").alias("nb"),
        F.expr("CAST(n * q - s * s AS DECIMAL(38,0))").alias("v1num"),
        F.expr("CAST(n * (n - 1) AS DECIMAL(38,0))").alias("v1den"),
    )
    w = (
        a.join(b, "event_type")
        .filter(F.expr("na >= 2 AND nb >= 2"))
    )
    return w.select(
        "event_type",
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.expr(
            "CAST(CASE WHEN v0num > 0 AND v1num > 0 THEN"
            " CASE WHEN v0num * v1den >= v1num * v0den"
            " THEN v0num * v1den * 1000000 div (v1num * v0den)"
            " ELSE v1num * v0den * 1000000 div (v0num * v1den) END"
            " END AS BIGINT)"
        ).alias("f_micro"),
        F.expr(
            "CASE WHEN v0num > 0 AND v1num > 0 THEN"
            " v0num * v1den >= v1num * v0den END"
        ).alias("a_larger"),
    ).orderBy("event_type")
