"""Corpus-enrichment queries rounding out the training-data pipeline:
PII scrubbing, document chunking, vocabulary heavy hitters, embedding
pooling, fuzzy (near-duplicate) benchmark decontamination, row
validation/quarantine, time-series densification, and k-means.

These are the passes a pretraining pipeline runs AROUND the core
dedup/curation flow (queries/llm.py, queries/curation.py): scrub →
chunk → profile vocabulary; pool embeddings for prototypes; fuzzy-match
the benchmark set for paraphrase leakage; quarantine malformed rows;
densify event rollups. All are oracle-checked; see each query's
docstring for the determinism argument.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from mysql_cdc_to_http_spark.catalog import load_table
from mysql_cdc_to_http_spark.operators import caching
from mysql_cdc_to_http_spark.queries.registry import query

# Deterministic PII injection: the synthetic corpus contains no PII, so
# the query plants class-varied fixtures derived from doc_id — BOTH
# engines compute the identical augmented text, then redact it with the
# identical regexes, so the redaction (not the fixture) is what the
# oracle checks. Emails on every doc; phones on doc_id % 3 == 0; IPs on
# doc_id % 5 == 0 — counts vary per row.
_PII_SPARK = (
    "concat(text, ' contact user', cast(doc_id as string), '@example.com',"
    " case when doc_id % 3 = 0 then concat(' call 415-555-',"
    "   lpad(cast(doc_id % 10000 as string), 4, '0')) else '' end,"
    " case when doc_id % 5 = 0 then concat(' host 10.',"
    "   cast(doc_id % 256 as string), '.0.', cast((doc_id * 7) % 256 as string))"
    "   else '' end)"
)
_PII_DUCK = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'"
    " || CASE WHEN doc_id % 3 = 0 THEN ' call 415-555-' ||"
    "   lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END"
    " || CASE WHEN doc_id % 5 = 0 THEN ' host 10.' ||"
    "   CAST(doc_id % 256 AS VARCHAR) || '.0.' ||"
    "   CAST((doc_id * 7) % 256 AS VARCHAR) ELSE '' END"
)


@query(
    "q_pii_redact",
    oracle=rf"""
    WITH aug AS (
      SELECT doc_id, {_PII_DUCK} AS t FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}')) AS INT)
             AS n_emails,
           CAST(len(regexp_extract_all(t,
             '\b\d{{3}}-\d{{3}}-\d{{4}}\b')) AS INT) AS n_phones,
           CAST(len(regexp_extract_all(t,
             '\b(?:\d{{1,3}}\.){{3}}\d{{1,3}}\b')) AS INT) AS n_ips,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}', '[EMAIL]', 'g'),
             '\b\d{{3}}-\d{{3}}-\d{{4}}\b', '[PHONE]', 'g'),
             '\b(?:\d{{1,3}}\.){{3}}\d{{1,3}}\b', '[IP]', 'g'))
             AS redacted_md5
    FROM aug
    ORDER BY doc_id
    """,
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: count and redact emails / phone numbers / IPv4
    addresses. Chained JVM regexp_replace — per-row CPU, no shuffle;
    the at-scale scrub is embarrassingly parallel. The md5 of the
    redacted text proves byte-identical replacement across engines.
    Patterns restrict to the Java-regex ∩ RE2 common dialect
    (operators/text.py:PII_EMAIL_RE et al.)."""
    from mysql_cdc_to_http_spark.operators.text import pii_counts, redact_pii

    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select("doc_id", F.expr(_PII_SPARK).alias("t"))
    return aug.select(
        "doc_id",
        *pii_counts(F.col("t")),
        F.md5(redact_pii(F.col("t"))).alias("redacted_md5"),
    )


@query(
    "q_chunk_documents",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                          ' ') AS t
      FROM documents
    ),
    st AS (
      SELECT doc_id, t,
             unnest(range(1, least(((greatest(len(t) - 32, 0) + 15) // 16) * 16
                                     + 1, len(t)) + 1,
                          16)) AS start_token
      FROM tok
    )
    SELECT doc_id,
           CAST((start_token - 1) / 16 AS INT)             AS chunk_id,
           CAST(start_token AS BIGINT)                     AS start_token,
           CAST(len(t[start_token:start_token + 31]) AS INT) AS n_tokens,
           array_to_string(t[start_token:start_token + 31], ' ') AS chunk_text
    FROM st
    ORDER BY doc_id, chunk_id
    """,
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (32-token chunks, stride 16) —
    the upstream neighbor of sequence packing (q_pack_sequences). Pure
    explode-of-sequence projection: no shuffle, no UDF; row blowup
    bounded by n_tokens/stride per doc. Exact string equality makes the
    oracle trivial (both engines emit identical chunk text)."""
    from mysql_cdc_to_http_spark.operators.text import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_documents(
        docs, "doc_id", "text", chunk_tokens=32, stride=16
    )
    return chunks.select(
        "doc_id",
        "chunk_id",
        F.col("start_token").cast("long").alias("start_token"),
        "n_tokens",
        "chunk_text",
    )


@query(
    "q_heavy_hitters",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ',
                                                     'g')), ' ')) AS token
      FROM documents
    )
    SELECT token,
           CAST(count(*) AS BIGINT)               AS freq,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
    FROM tok
    WHERE token <> ''
    GROUP BY token
    ORDER BY freq DESC, token ASC
    LIMIT 20
    """,
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 tokens by frequency with document frequency —
    the vocabulary/stop-word profile. Two-phase hash aggregate (partial
    counts combine map-side) then TakeOrderedAndProject; the
    (freq DESC, token ASC) sort key is a total order so the top-k cut is
    deterministic on both engines."""
    from mysql_cdc_to_http_spark.operators.text import heavy_hitters

    docs = load_table(spark, sf_dir, "documents")
    return heavy_hitters(docs, "doc_id", "text", k=20).select(
        "token",
        F.col("freq").cast("long").alias("freq"),
        F.col("doc_freq").cast("long").alias("doc_freq"),
    )


@query(
    "q_embedding_pool",
    oracle="""
    SELECT label,
           CAST(pos AS INT)                       AS pos,
           round(sum(v) / count(*), 6)            AS mean_val,
           CAST(count(*) AS BIGINT)               AS n_vectors
    FROM (SELECT label, unnest(embedding) AS v,
                 generate_subscripts(embedding, 1) - 1 AS pos
          FROM embeddings)
    GROUP BY label, pos
    ORDER BY label, pos
    """,
)
def q_embedding_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean-pooled embedding centroids in long (label, pos,
    mean_val) form — class prototypes / IVF seeds. posexplode feeds a
    two-phase hash aggregate: the shuffle carries pre-combined
    (label, pos, sum, count) tuples (labels × dim rows per partition),
    never the exploded stream. Float inputs accumulate exactly in
    DOUBLE; round(·, 6) absorbs summation-order ulps (the
    hyperplane-LSH cos_sim contract); verified stable at sf0.001 and
    sf0.01."""
    from mysql_cdc_to_http_spark.operators.similarity import pool_embeddings

    emb = load_table(spark, sf_dir, "embeddings")
    pooled = pool_embeddings(emb, "label", "embedding")
    return pooled.select(
        "label", "pos", "mean_val", "n_vectors"
    ).orderBy("label", "pos")


@query(
    "q_decontaminate_fuzzy",
    oracle=r"""
    WITH norm AS (
      SELECT doc_id, source,
             string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ')
               AS toks
      FROM documents
    ),
    sh AS (
      SELECT doc_id, source,
             list_distinct([
               concat_ws(chr(1),
                         coalesce(toks[i+1], ''),
                         coalesce(toks[i+2], ''),
                         coalesce(toks[i+3], ''))
               FOR i IN generate_series(0, greatest(len(toks) - 3, 0))
             ]) AS shl
      FROM norm
    ),
    u AS (SELECT doc_id, source, len(shl) AS nsh, unnest(shl) AS s FROM sh),
    inter AS (
      SELECT c.doc_id AS doc_id, b.doc_id AS bench_id, count(*) AS i,
             any_value(c.nsh) AS nc, any_value(b.nsh) AS nb
      FROM (SELECT * FROM u WHERE source <> 'src0') c
      JOIN (SELECT * FROM u WHERE source = 'src0') b ON c.s = b.s
      GROUP BY 1, 2
    )
    SELECT doc_id, bench_id, CAST(i AS DOUBLE) / (nc + nb - i) AS jaccard
    FROM inter
    WHERE CAST(i AS DOUBLE) / (nc + nb - i) >= 0.5
    ORDER BY doc_id, bench_id
    """,
)
def q_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy benchmark decontamination, ORACLE-EXACT on the test corpus:
    MinHash-LSH cross-join of training docs (source <> 'src0') against
    the benchmark slice (source = 'src0'), exact word-3-shingle Jaccard
    verify on candidates. Catches the paraphrase-level leakage exact
    n-gram overlap (q_decontaminate) under-counts.

    The oracle recomputes ground truth by brute force (shingle-explode
    join, the same construction q_dedup_minhash's oracle uses). LSH
    output equals ground truth iff candidate recall is 1.0 at the
    threshold, which the corpus margin makes deterministic: planted
    cross-source near-dups sit at J ≥ 0.9, everything else below ~0.3
    (measured), and at 16 bands × 4 rows with FIXED seeds capture is a
    pure function of the data — verified miss-free at sf0.001/sf0.01.
    Jaccard values match bit-exactly because hashed-shingle set sizes
    equal string-shingle set sizes (no xxhash64 collisions here) and
    both engines divide the same two ints in IEEE double.

    Scale shape: benchmark bands + shingles are broadcast; the corpus
    never shuffles (see operators/curation.py:fuzzy_decontaminate)."""
    from mysql_cdc_to_http_spark.operators.curation import fuzzy_decontaminate

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("source") != "src0")
    bench = docs.filter(F.col("source") == "src0")
    out = fuzzy_decontaminate(
        corpus, bench, "doc_id", "text",
        n_hashes=64, bands=16, shingle_k=3, threshold=0.5,
    ).orderBy("doc_id", "bench_id")
    return out


# Deterministic corruption for the validation demo: the synthetic tables
# are clean, so the query stages rule violations derived from the key —
# both engines compute the identical staged input, so the oracle checks
# the VALIDATION, not the fixture.
_STAGE_EXPRS = (
    "l_orderkey",
    "l_linenumber",
    "CASE WHEN l_orderkey % 97 = 0 THEN -l_quantity ELSE l_quantity END"
    " AS quantity",
    "CASE WHEN l_orderkey % 89 = 0 THEN NULL ELSE l_shipdate END AS shipdate",
    "CASE WHEN l_orderkey % 83 = 0 THEN l_discount + 1.0 ELSE l_discount END"
    " AS discount",
)
_STAGE_SQL = ", ".join(_STAGE_EXPRS)


@query(
    "q_quarantine",
    oracle=f"""
    WITH staged AS (
      SELECT {_STAGE_SQL} FROM lineitem
    ),
    checked AS (
      SELECT l_orderkey, l_linenumber,
             array_to_string(list_filter([
               CASE WHEN NOT coalesce(quantity > 0, FALSE)
                    THEN 'quantity_positive' ELSE '' END,
               CASE WHEN NOT coalesce(shipdate IS NOT NULL, FALSE)
                    THEN 'shipdate_present' ELSE '' END,
               CASE WHEN NOT coalesce(discount BETWEEN 0.0 AND 0.5, FALSE)
                    THEN 'discount_range' ELSE '' END
             ], x -> x <> ''), ',') AS reasons
      FROM staged
    )
    SELECT l_orderkey, l_linenumber, reasons
    FROM checked WHERE reasons <> ''
    ORDER BY l_orderkey, l_linenumber
    """,
)
def q_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validate-and-quarantine (operators/validation.py): three rules
    evaluated in ONE projection (array-of-structs fold, single codegen
    stage — never N sequential filters); quarantined rows carry
    machine-readable failed-rule names for replay after a fix. A rule
    passes only when its predicate is affirmatively TRUE — NULL results
    are failures, which is what catches the nulled shipdate."""
    from mysql_cdc_to_http_spark.operators.validation import (
        REASONS_COL,
        with_validation,
    )

    li = load_table(spark, sf_dir, "lineitem")
    staged = li.selectExpr(*_STAGE_EXPRS)
    rules = {
        "quantity_positive": F.col("quantity") > 0,
        "shipdate_present": F.col("shipdate").isNotNull(),
        "discount_range": F.col("discount").between(0.0, 0.5),
    }
    checked = with_validation(staged, rules)
    return (
        checked.filter(F.size(REASONS_COL) > 0)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.concat_ws(",", F.col(REASONS_COL)).alias("reasons"),
        )
        
    )


@query(
    "q_resample_gapfill",
    oracle="""
    WITH agg AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
             CAST(count(*) AS BIGINT) AS n_events,
             round(sum(value), 4)     AS sum_value,
             round(sum(value), 4) / count(*) AS avg_value
      FROM events GROUP BY 1, 2
    ),
    spine AS (
      SELECT event_type,
             unnest(generate_series(min(bucket_ts), max(bucket_ts),
                                    INTERVAL 1 HOUR)) AS bucket_ts
      FROM agg GROUP BY event_type
    ),
    filled AS (
      SELECT s.event_type, s.bucket_ts,
             coalesce(a.n_events, 0) AS n_events,
             last_value(a.sum_value IGNORE NULLS) OVER w_back AS filled_sum,
             a.avg_value,
             last_value(a.avg_value IGNORE NULLS) OVER w_back  AS prev_v,
             first_value(a.avg_value IGNORE NULLS) OVER w_fwd  AS next_v,
             epoch(last_value(CASE WHEN a.avg_value IS NOT NULL
                                   THEN s.bucket_ts END IGNORE NULLS)
                   OVER w_back) AS prev_t,
             epoch(first_value(CASE WHEN a.avg_value IS NOT NULL
                                    THEN s.bucket_ts END IGNORE NULLS)
                   OVER w_fwd) AS next_t,
             epoch(s.bucket_ts) AS cur_t,
             a.bucket_ts IS NULL AS is_gap
      FROM spine s LEFT JOIN agg a USING (event_type, bucket_ts)
      WINDOW
        w_back AS (PARTITION BY s.event_type ORDER BY s.bucket_ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w_fwd AS (PARTITION BY s.event_type ORDER BY s.bucket_ts
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, bucket_ts, n_events, filled_sum,
           CASE WHEN avg_value IS NOT NULL THEN avg_value
                WHEN next_v IS NULL THEN prev_v
                WHEN prev_v IS NULL THEN next_v
                ELSE prev_v + (next_v - prev_v)
                     * ((cur_t - prev_t) / (next_t - prev_t))
           END AS interp_avg,
           is_gap
    FROM filled
    ORDER BY event_type, bucket_ts
    """,
)
def q_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style rollup + densification
    (operators/timeseries.py): hourly per-type buckets (two-phase agg —
    the only event-scale stage), a generated dense spine over each
    type's own range, zero-filled counts, forward-filled sums, linearly
    interpolated averages (locf + interpolate, the standard hypertable
    pair), and is_gap flags. Per-bucket sums round to 4 dp BEFORE any
    fill so both engines carry identical inputs; the average divides
    that agreed sum by the exact count (no quotient rounding — a
    rounded avg lands on exact 4-dp midpoints with 2-dp inputs), and
    the lerp is then the identical IEEE expression on identical values
    (exact epoch-second fraction)."""
    from mysql_cdc_to_http_spark.operators.timeseries import (
        fill_gaps,
        resample,
    )

    ev = load_table(spark, sf_dir, "events")
    rolled = resample(
        ev,
        "event_type",
        "ts",
        {
            "n_events": F.count(F.lit(1)).cast("long"),
            "sum_value": F.round(F.sum("value"), 4),
            # rounded sum over exact count: both engines divide agreed
            # doubles by the same int — identical quotient bits with NO
            # quotient rounding (round(avg,4) hit exact 4-dp midpoints:
            # 2-dp inputs / 24 events = x.xxx75, the SKILL.md pathology)
            "avg_value": F.round(F.sum("value"), 4) / F.count(F.lit(1)),
        },
    )
    filled = fill_gaps(
        rolled, "event_type", count_cols=["n_events"],
        ffill_cols=["sum_value"], lerp_cols=["avg_value"],
    )
    return filled.select(
        "event_type",
        "bucket_ts",
        "n_events",
        F.col("sum_value").alias("filled_sum"),
        F.col("avg_value").alias("interp_avg"),
        "is_gap",
    ).orderBy("event_type", "bucket_ts")


# Shared oracle fragment: the two unrolled Lloyd iterations of the
# deterministic k=4 k-means (used by q_kmeans and q_dedup_semantic).
_KMEANS_CTE = """
    WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
    init AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, v AS c
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 4)
    ),
    d1 AS (
      SELECT e.vec_id, i.cluster,
             list_sum([
               (CAST(e.v[x] AS DOUBLE) - CAST(i.c[x] AS DOUBLE))
               * (CAST(e.v[x] AS DOUBLE) - CAST(i.c[x] AS DOUBLE))
               FOR x IN generate_series(1, 64)
             ]) AS dist
      FROM e, init i
    ),
    a1 AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cluster) AS rn
        FROM d1
      ) WHERE rn = 1
    ),
    cent1 AS (
      SELECT cluster, list(m ORDER BY pos) AS c FROM (
        SELECT a1.cluster, g.x AS pos,
               round(avg(CAST(e.v[g.x] AS DOUBLE)), 6) AS m
        FROM e JOIN a1 USING (vec_id), generate_series(1, 64) g(x)
        GROUP BY a1.cluster, g.x
      ) GROUP BY cluster
    ),
    d2 AS (
      SELECT e.vec_id, c1.cluster,
             list_sum([
               (CAST(e.v[x] AS DOUBLE) - c1.c[x])
               * (CAST(e.v[x] AS DOUBLE) - c1.c[x])
               FOR x IN generate_series(1, 64)
             ]) AS dist
      FROM e, cent1 c1
    ),
    a2 AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cluster) AS rn
        FROM d2
      ) WHERE rn = 1
    )
"""


@query(
    "q_kmeans",
    oracle=_KMEANS_CTE
    + """
    SELECT vec_id, CAST(cluster AS INT) AS cluster FROM a2 ORDER BY vec_id
    """,
)
def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means, k=4, two Lloyd iterations
    (operators/clustering.py) — deterministic init (4 lowest-id
    vectors), 6-dp-rounded recomputed centroids, ties to the lowest
    cluster id. The oracle unrolls both iterations in SQL; cluster
    argmins are stable cross-engine because assignment margins on this
    corpus dwarf float summation noise (the centroid round happens
    BEFORE the second assignment in both engines, so both compare
    distances against identical centroid values)."""
    from mysql_cdc_to_http_spark.operators.clustering import kmeans

    emb = load_table(spark, sf_dir, "embeddings")
    out = kmeans(emb, k=4, iters=2)
    return out.select("vec_id", "cluster")


@query(
    "q_sample_weighted",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             -ln((CAST(('0x' || substr(md5('v1|' || CAST(doc_id AS VARCHAR)),
                                       1, 6)) AS BIGINT) + 1)
                 / 16777217.0)
             / CAST(n_chars AS DOUBLE) AS k
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, n_chars,
             row_number() OVER (ORDER BY k, doc_id) AS rn
      FROM keyed
    )
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
    FROM ranked WHERE rn <= 50 ORDER BY doc_id
    """,
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis-Spirakis, operators/sampling.py:weighted_sample_keys):
    the 50 docs with the smallest -ln(u)/n_chars keys, u md5-derived —
    membership is a pure function of (salt, id, weight), identical
    across runs, partitionings, and engines. The top-k on the key is
    TakeOrderedAndProject at scale (never a full sort). ln() ulp
    differences across libm builds cannot flip the selected set because
    distinct keys differ by orders of magnitude more (verified
    sf0.001/0.01/0.1)."""
    from mysql_cdc_to_http_spark.operators.sampling import (
        weighted_sample_keys,
    )

    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        weighted_sample_keys(F.col("doc_id"), F.col("n_chars")).alias("k"),
    )
    return (
        keyed.orderBy("k", "doc_id")
        .limit(50)
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    )


@query(
    "q_sample_weighted_grouped",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             -ln((CAST(('0x' || substr(md5('v1|' || CAST(doc_id AS VARCHAR)),
                                       1, 6)) AS BIGINT) + 1)
                 / 16777217.0)
             / CAST(n_chars AS DOUBLE) AS k
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source ORDER BY k, doc_id) AS rn
      FROM keyed
    )
    SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars
    FROM ranked WHERE rn <= 5 ORDER BY source, doc_id
    """,
)
def q_sample_weighted_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum quota sampling: the 5 highest-priority docs PER
    SOURCE under the same Efraimidis-Spirakis weighted keys — the
    corpus-mixing shape where every domain contributes a fixed quota
    chosen proportionally to document weight. One window per stratum
    (rank over the key), shuffle bounded by (doc_id, source, key)
    columns — never the payload. Same determinism argument as
    q_sample_weighted."""
    from pyspark.sql.window import Window as W

    from mysql_cdc_to_http_spark.operators.sampling import (
        weighted_sample_keys,
    )

    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        weighted_sample_keys(F.col("doc_id"), F.col("n_chars")).alias("k"),
    )
    w = W.partitionBy("source").orderBy("k", "doc_id")
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("source", "doc_id", "n_chars")
        .orderBy("source", "doc_id")
    )


@query(
    "q_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS tv FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS tc
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > v.tv
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS tp
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > c.tc
      GROUP BY e.user_id
    )
    SELECT stage, n_users FROM (
      SELECT 1 AS ord, 'view' AS stage,
             CAST((SELECT count(*) FROM v) AS BIGINT) AS n_users
      UNION ALL
      SELECT 2, 'view>click', CAST((SELECT count(*) FROM c) AS BIGINT)
      UNION ALL
      SELECT 3, 'view>click>purchase',
             CAST((SELECT count(*) FROM p) AS BIGINT)
    ) ORDER BY ord
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click → purchase): each stage
    keeps users whose FIRST qualifying event follows their previous
    stage's first event. Three staged aggregates; each stage's join key
    is user_id, so at scale the stage tables co-partition and every agg
    is two-phase map-combined. Exact timestamp comparisons — no floats
    anywhere."""
    ev = load_table(spark, sf_dir, "events")

    def stage(event_type: str, prev: DataFrame | None, prev_ts: str, out_ts: str) -> DataFrame:
        e = ev.filter(F.col("event_type") == event_type)
        if prev is not None:
            e = e.join(prev, "user_id").filter(F.col("ts") > F.col(prev_ts))
        return e.groupBy("user_id").agg(F.min("ts").alias(out_ts))

    v = stage("view", None, "", "tv")
    c = stage("click", v, "tv", "tc")
    p = stage("purchase", c, "tc", "tp")

    def cnt(df: DataFrame, ord_: int, label: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n_users")
        ).select(
            F.lit(ord_).alias("__ord"), F.lit(label).alias("stage"), "n_users"
        )

    return (
        cnt(v, 1, "view")
        .unionByName(cnt(c, 2, "view>click"))
        .unionByName(cnt(p, 3, "view>click>purchase"))
        .orderBy("__ord")
        .select("stage", "n_users")
    )


# --------------------------------------------------------------------------
# PageRank over the supplier<->customer trade graph
# --------------------------------------------------------------------------
_PR_DAMPING = 0.85
_PR_ROUND_ITER = 8
_PR_ROUND_OUT = 5

_PR_STEP = """
c{i} AS (
  SELECT e.dst AS node, SUM(p.pr / o.outdeg) AS contrib
  FROM edges e
  JOIN pr{prev} p ON e.src = p.node
  JOIN outdeg o ON e.src = o.src
  GROUP BY e.dst
),
pr{i} AS (
  SELECT n.node,
         round((1.0 - {d}) / (SELECT n FROM nn)
               + {d} * COALESCE(c.contrib, 0.0), {r}) AS pr
  FROM nodes n LEFT JOIN c{i} c ON n.node = c.node
)"""


def _pagerank_oracle(iterations: int = 2) -> str:
    steps = ",".join(
        _PR_STEP.format(
            i=i, prev=i - 1, d=_PR_DAMPING, r=_PR_ROUND_ITER
        )
        for i in range(1, iterations + 1)
    )
    return f"""
    WITH pairs AS (
      SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS s,
                      'c' || CAST(o_custkey AS VARCHAR) AS c
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS (
      SELECT s AS src, c AS dst FROM pairs
      UNION ALL
      SELECT c AS src, s AS dst FROM pairs
    ),
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges
        UNION ALL SELECT dst AS node FROM edges
      )
    ),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    outdeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
    pr0 AS (
      SELECT node, round(1.0 / (SELECT n FROM nn), {_PR_ROUND_ITER}) AS pr
      FROM nodes
    ),
    {steps}
    SELECT node, round(pr, {_PR_ROUND_OUT}) AS pagerank
    FROM pr{iterations}
    ORDER BY pagerank DESC, node LIMIT 25
    """


@query("q_pagerank", oracle=_pagerank_oracle())
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the supplier<->customer trade graph
    (who-supplies-whom from lineitem ⋈ orders, both edge directions):
    the 25 most central trade participants after 2 iterations.

    Iterative-algorithm family member #3 (k-means, connected
    components): the rank vector stays distributed, each round is the
    canonical join-on-src + groupBy-dst two-shuffle step, and the
    fixed-iteration trajectory is unrolled into plain SQL for the oracle
    — with per-iteration 8-dp rank rounding making the float trajectory
    engine-invariant (the q_kmeans centroid-rounding technique).
    operators/graph.py:pagerank."""
    from mysql_cdc_to_http_spark.operators.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("s"),
            F.concat(F.lit("c"), F.col("o_custkey")).alias("c"),
        )
        .distinct()
    )
    edges = pairs.select(
        F.col("s").alias("src"), F.col("c").alias("dst")
    ).unionByName(pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")))
    pr = pagerank(
        edges,
        iterations=2,
        damping=_PR_DAMPING,
        round_iter=_PR_ROUND_ITER,
    )
    return (
        pr.select("node", F.round("pr", _PR_ROUND_OUT).alias("pagerank"))
        .orderBy(F.col("pagerank").desc(), "node")
        .limit(25)
    )


@query(
    "q_record_linkage",
    oracle="""
    WITH s AS (
      SELECT c_custkey, c_name, substr(c_name, 10, 7) AS blk FROM customer
    )
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
    FROM s a JOIN s b ON a.blk = b.blk AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    ORDER BY id_a, id_b
    """,
)
def q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage / entity resolution (operators/linkage.py):
    customers whose names are within ONE edit of each other, found via
    blocked fuzzy matching — block on the 7-char name-infix key (one
    equi-join shuffle), then JVM levenshtein with the threshold
    short-circuit on within-block pairs only. The key frees exactly
    the trailing 2 digits of the customer id, so blocks are
    STRUCTURALLY ≤ 100 members at ANY sf (pinned in
    tests/test_plans.py) and blocking prunes ≥ 98% of the quadratic
    all-pairs space; for keys without such a construction bound, pass
    ``max_block`` to blocked_pairs (deterministic md5 truncation) —
    the discipline that makes fuzzy self-matching survive 100 TB
    (same candidate-generation story as MinHash-LSH).

    Exact oracle: edit distance is integer-valued and both engines
    implement standard Levenshtein — no float anywhere."""
    from mysql_cdc_to_http_spark.operators.linkage import (
        blocked_pairs,
        fuzzy_match,
    )

    cust = load_table(spark, sf_dir, "customer")
    pairs = blocked_pairs(
        cust, "c_custkey", F.substring("c_name", 10, 7), ["c_name"]
    )
    return (
        fuzzy_match(pairs, "c_name_a", "c_name_b", max_dist=1)
        .select("id_a", "id_b", "dist")
        
    )


@query(
    "q_record_linkage_multipass",
    oracle="""
    WITH s AS (
      SELECT c_custkey, c_name FROM customer
    ),
    p1 AS (
      SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
             a.c_name AS name_a, b.c_name AS name_b
      FROM s a JOIN s b
        ON substr(a.c_name, 10, 7) = substr(b.c_name, 10, 7)
       AND a.c_custkey < b.c_custkey
    ),
    p2 AS (
      SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
             a.c_name AS name_a, b.c_name AS name_b
      FROM s a JOIN s b
        ON substr(a.c_name, 10, 6) || substr(a.c_name, 17, 2)
         = substr(b.c_name, 10, 6) || substr(b.c_name, 17, 2)
       AND a.c_custkey < b.c_custkey
    ),
    cand AS (SELECT * FROM p1 UNION SELECT * FROM p2)
    SELECT id_a, id_b,
           CAST(levenshtein(name_a, name_b) AS INTEGER) AS dist
    FROM cand
    WHERE levenshtein(name_a, name_b) <= 1
    ORDER BY id_a, id_b
    """,
)
def q_record_linkage_multipass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pass blocked record linkage (operators/linkage.py:
    multipass_pairs) — round-8 verdict item #5. Single-pass blocking
    has a structural recall hole: a discrepancy INSIDE the blocking
    key's own columns routes the two records to different blocks, so
    the pair is never compared. The standard answer is to union
    candidates from several INDEPENDENT keys; a pair is missed only if
    every key's columns contain a discrepancy.

    Here both passes key on disjoint digit windows of the name:
    pass 1 fixes digits 1-7 (frees 8-9, the single-pass key of
    q_record_linkage); pass 2 fixes digits 1-6 and 8-9 (frees digit 7).
    Pass 2 therefore catches within-one-edit pairs whose custkeys
    differ in the hundreds digit — REAL pairs at every sf that the
    single-pass form structurally misses (e.g. Customer#000000005 vs
    Customer#000000105), not just a planted-test artifact; the planted
    recall test (tests/test_plans.py) additionally proves the miss/
    catch contrast directly. Both keys are construction-bounded
    (≤100 and ≤10 members per block), so no max_block truncation is
    needed and the oracle is exact: candidates are a deterministic set,
    levenshtein is integer, and UNION dedups identically in both
    engines.

    Scale shape: two candidate-sized equi-joins (one hash shuffle on
    each key) + one distinct over block-bounded candidates — multi-pass
    multiplies cost by the number of passes, never re-introduces the
    corpus-quadratic all-pairs join."""
    from mysql_cdc_to_http_spark.operators.linkage import (
        fuzzy_match,
        multipass_pairs,
    )

    cust = load_table(spark, sf_dir, "customer")
    pairs = multipass_pairs(
        cust,
        "c_custkey",
        [
            F.substring("c_name", 10, 7),
            F.concat(
                F.substring("c_name", 10, 6), F.substring("c_name", 17, 2)
            ),
        ],
        ["c_name"],
    )
    return (
        fuzzy_match(pairs, "c_name_a", "c_name_b", max_dist=1)
        .select("id_a", "id_b", "dist")
        
    )


@query(
    "q_ohlc_bars",
    oracle="""
    SELECT event_type,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS bar_ts,
           arg_min(value, ts) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           arg_max(value, ts) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_ticks,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume
    FROM events
    GROUP BY event_type, CAST(date_trunc('day', ts) AS TIMESTAMP)
    ORDER BY event_type, bar_ts
    """,
)
def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC tick downsampling (operators/timeseries.py:ohlc_bars):
    daily open/high/low/close/volume bars per event type in ONE
    two-phase hash aggregate — six scalars per bar in the map-side
    partial, no window, no sort. open/close pick the value at the
    min/max (ts, event_id) struct key via min_by/max_by, deterministic
    even under timestamp ties (the oracle's arg_min(value, ts) is
    equivalent here because event timestamps are unique at every sf —
    verified; the engine keeps the struct tiebreak for the general
    case). volume sums through DECIMAL and casts back — exact for
    2-decimal ticks, partitioning-invariant (q_agg_q1 discipline);
    open/high/low/close are raw stored doubles, no arithmetic at all."""
    from mysql_cdc_to_http_spark.operators.timeseries import ohlc_bars

    ev = load_table(spark, sf_dir, "events")
    return ohlc_bars(
        ev,
        "ts",
        "value",
        F.date_trunc("DAY", F.col("ts")),
        group_cols=["event_type"],
        tiebreak_col="event_id",
    )


@query(
    "q_time_decay",
    oracle="""
    WITH w AS (
      SELECT user_id, ts, value,
             MAX(epoch(ts)) OVER (PARTITION BY user_id) AS t_last
      FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MAX(ts) AS last_ts,
           round(SUM(value * pow(0.5, (t_last - epoch(ts)) / 86400.0)), 6)
             AS decayed_sum
    FROM w GROUP BY user_id ORDER BY user_id
    """,
)
def q_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-life-decayed activity feature per user (1-day half-life) —
    operators/timeseries.py:time_decay_agg. The recency-weighted
    feature a training pipeline joins onto examples; anchored at each
    user's own last event so it is reproducible offline. One fact
    shuffle total: the window max and the group-by share the hash
    partitioning on user_id (plan-tested).

    Parity: decay exponents are (identical IEEE double)/(constant);
    pow is the only transcendental and the 6-dp round absorbs its
    ulps (q_char_entropy argument)."""
    from mysql_cdc_to_http_spark.operators.timeseries import time_decay_agg

    ev = load_table(spark, sf_dir, "events")
    return time_decay_agg(ev, "user_id", "ts", "value", 86400.0)


# --------------------------------------------------------------------------
# Product quantization (PQ codes + reconstruction error)
# --------------------------------------------------------------------------
def _pq_oracle(
    m: int = 4, k: int = 4, dim: int = 64, adc_k: int | None = None
) -> str:
    """Unrolled-Lloyd oracle per subspace (the q_kmeans CTE pattern,
    machine-generated m times over contiguous slices). With ``adc_k``,
    appends the asymmetric-distance search tail (q_knn_pq): per-row
    codeword distances to the lowest-id query vector, summed across
    subspaces — same left-to-right fold order as the engine."""
    sub = dim // m
    parts = ["WITH e0 AS (SELECT vec_id, embedding AS v FROM embeddings)"]
    for s in range(m):
        off = s * sub
        body = f"""
    e_{s} AS (SELECT vec_id, v[{off + 1}:{off + sub}] AS v FROM e0),
    init_{s} AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, v AS c
      FROM (SELECT vec_id, v FROM e_{s} ORDER BY vec_id LIMIT {k})
    ),
    d1_{s} AS (
      SELECT e.vec_id, i.cluster,
             list_sum([
               (CAST(e.v[x] AS DOUBLE) - CAST(i.c[x] AS DOUBLE))
               * (CAST(e.v[x] AS DOUBLE) - CAST(i.c[x] AS DOUBLE))
               FOR x IN generate_series(1, {sub})
             ]) AS dist
      FROM e_{s} e, init_{s} i
    ),
    a1_{s} AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cluster) AS rn
        FROM d1_{s}
      ) WHERE rn = 1
    ),
    cent1_{s} AS (
      SELECT cluster, list(mv ORDER BY pos) AS c FROM (
        SELECT a.cluster, g.x AS pos,
               round(avg(CAST(e.v[g.x] AS DOUBLE)), 6) AS mv
        FROM e_{s} e JOIN a1_{s} a USING (vec_id),
             generate_series(1, {sub}) g(x)
        GROUP BY a.cluster, g.x
      ) GROUP BY cluster
    ),
    d2_{s} AS (
      SELECT e.vec_id, c1.cluster,
             list_sum([
               (CAST(e.v[x] AS DOUBLE) - c1.c[x])
               * (CAST(e.v[x] AS DOUBLE) - c1.c[x])
               FOR x IN generate_series(1, {sub})
             ]) AS dist
      FROM e_{s} e, cent1_{s} c1
    ),
    a2_{s} AS (
      SELECT vec_id, cluster, dist FROM (
        SELECT vec_id, cluster, dist,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cluster) AS rn
        FROM d2_{s}
      ) WHERE rn = 1
    )"""
        parts.append(body)
    if adc_k is None:
        codes = ", ".join(
            f"CAST(a2_{s}.cluster AS INT) AS code_{s}" for s in range(m)
        )
        err = " + ".join(f"a2_{s}.dist" for s in range(m))
        joins = "a2_0" + "".join(
            f" JOIN a2_{s} USING (vec_id)" for s in range(1, m)
        )
        return (
            ",".join(parts)
            + f"""
    SELECT vec_id, {codes}, round({err}, 6) AS recon_err
    FROM {joins} ORDER BY vec_id
    """
        )
    parts.append(
        "\n    q AS (SELECT v FROM e0 ORDER BY vec_id LIMIT 1)"
    )
    for s in range(m):
        off = s * sub
        parts.append(f"""
    adc_{s} AS (
      SELECT a.vec_id,
             list_sum([
               (CAST(q.v[x + {off}] AS DOUBLE) - c.c[x])
               * (CAST(q.v[x + {off}] AS DOUBLE) - c.c[x])
               FOR x IN generate_series(1, {sub})
             ]) AS d
      FROM a2_{s} a JOIN cent1_{s} c ON a.cluster = c.cluster, q
    )""")
    err = " + ".join(f"adc_{s}.d" for s in range(m))
    joins = "adc_0" + "".join(
        f" JOIN adc_{s} USING (vec_id)" for s in range(1, m)
    )
    return (
        ",".join(parts)
        + f"""
    SELECT vec_id, round({err}, 6) AS adc_dist
    FROM {joins} ORDER BY adc_dist, vec_id LIMIT {adc_k}
    """
    )


@query("q_pq_codes", oracle=_pq_oracle())
def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (operators/clustering.py:product_quantize):
    64-dim embeddings → 4 subspaces × 4-codeword codebooks (two
    deterministic Lloyd iterations each) → 4 codes + reconstruction
    error per vector — the compression step of an IVF-PQ ANN index
    (256 B float vector → 4 B of codes + shared codebooks).

    The oracle unrolls all four subspace k-means in SQL (generated from
    the q_kmeans CTE template). Codes match exactly for the q_kmeans
    argmin-margin reason, per subspace; the error is a fixed-order fold
    against 6-dp-rounded codewords — identical doubles both engines —
    rounded to 6 dp (green sf0.001/0.01/0.1)."""
    from mysql_cdc_to_http_spark.operators.clustering import product_quantize

    emb = load_table(spark, sf_dir, "embeddings")
    return product_quantize(emb, m=4, k=4, iters=2)


@query("q_knn_pq", oracle=_pq_oracle(adc_k=10))
def q_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k (operators/clustering.py:
    pq_adc_topk) — the search half of IVF-PQ: the lowest-id embedding
    queries the corpus through its PQ codes. The query's per-codeword
    distance tables are model-sized driver constants; every stored
    vector costs m array lookups + m-1 adds in ONE codegen projection
    over the codes table (vectors never read), and top-k is
    TakeOrderedAndProject.

    Unlike q_knn_ivf (real approximation, rows-only), ADC over fixed
    codebooks is a DETERMINISTIC function of the data, so the oracle is
    exact: the unrolled per-subspace Lloyd CTEs plus the same
    fixed-order distance fold, compared at 6 dp with a full (dist, id)
    ordering."""
    from mysql_cdc_to_http_spark.operators.clustering import (
        assign_clusters,
        pq_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_codebooks(emb, m=4, k=4, iters=2)
    sub = len(books[0][0])
    codes = None
    for s in range(4):
        piece = emb.select(
            "vec_id",
            F.slice(F.col("embedding"), s * sub + 1, sub).alias("embedding"),
        )
        enc = assign_clusters(piece, books[s]).select(
            "vec_id", F.col("cluster").alias(f"code_{s}")
        )
        codes = enc if codes is None else codes.join(enc, "vec_id")
    qvec = [
        float(x)
        for x in emb.orderBy("vec_id").select("embedding").first()[0]
    ]
    from mysql_cdc_to_http_spark.operators.clustering import pq_adc_topk

    return pq_adc_topk(codes, books, qvec, k=10)


# --------------------------------------------------------------------------
# X131 — PCA (first principal component) by power iteration, the
# fourth iterative-refinement operator (k-means / connected components /
# PageRank / PCA). Oracle: all three iterations unrolled in SQL.
# --------------------------------------------------------------------------
def _pca_oracle(iters: int = 3, dim: int = 64) -> str:
    gs = f"generate_series(1,{dim})"
    parts = [
        "WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),",
        "nn AS (SELECT count(*) AS n FROM e),",
        f"mu0 AS (SELECT g.x AS pos, round(avg(CAST(v[g.x] AS DOUBLE)), 6)"
        f" AS m FROM e, {gs} g(x) GROUP BY g.x),",
        "mul AS (SELECT list(m ORDER BY pos) AS mu FROM mu0),",
        f"w0 AS (SELECT [0.125 FOR x IN {gs}] AS w),",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(
            f"s{i} AS (SELECT e.vec_id,"
            f" list_sum([(CAST(e.v[x] AS DOUBLE) - mu.mu[x]) * w{p}.w[x]"
            f" FOR x IN {gs}]) AS s FROM e, mul mu, w{p}),"
        )
        parts.append(
            f"t{i} AS (SELECT g.x AS pos,"
            f" round(sum(s{i}.s * (CAST(e.v[g.x] AS DOUBLE) - mu.mu[g.x]))"
            f" / (SELECT n FROM nn), 6) AS t"
            f" FROM e JOIN s{i} USING (vec_id), mul mu, {gs} g(x)"
            f" GROUP BY g.x),"
        )
        parts.append(
            f"l{i} AS (SELECT sqrt(CAST(sum(CAST(t AS DECIMAL(20,6))"
            f" * CAST(t AS DECIMAL(20,6))) AS DOUBLE)) AS lam FROM t{i}),"
        )
        parts.append(
            f"w{i} AS (SELECT list(wv ORDER BY pos) AS w FROM"
            f" (SELECT pos, CAST(CAST(t / l{i}.lam AS DECIMAL(18,6))"
            f" AS DOUBLE) AS wv FROM t{i}, l{i}))"
            + ("," if i < iters else "")
        )
    parts.append(
        f"SELECT e.vec_id, round(list_sum([(CAST(e.v[x] AS DOUBLE)"
        f" - mu.mu[x]) * w{iters}.w[x] FOR x IN {gs}]), 6) AS pc1"
        f" FROM e, mul mu, w{iters} ORDER BY e.vec_id"
    )
    return "\n".join(parts)


@query("q_pca_power", oracle=_pca_oracle())
def q_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-principal-component scores for every embedding vector by
    3 power iterations (operators/clustering.py:pca_power_scores).

    Scale shape: the covariance matrix is never materialized — each
    iteration is one zero-shuffle projection (per-vector ⟨v−μ, w⟩
    against driver literals) plus one posexplode two-phase agg whose
    shuffle carries dim-sized pre-combined partials; only the dim-long
    t vector reaches the driver (model-sized, the k-means contract).
    Determinism: 6-dp in-engine rounds on μ and t, EXACT-DECIMAL ‖t‖²,
    IEEE sqrt, HALF_UP DECIMAL quantization for w — so the SQL oracle
    (all iterations unrolled, the q_kmeans discipline) is exact."""
    from mysql_cdc_to_http_spark.operators.clustering import (
        pca_power_scores,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return pca_power_scores(emb, iters=3)


# --------------------------------------------------------------------------
# X144 — c-TF-IDF cluster characterization (the BERTopic move): k-means
# clusters over embeddings, then the tokens that DISTINGUISH each
# cluster — class-based TF-IDF where a "document" is the whole cluster.
# Composes two existing families (clustering + text stats) end-to-end,
# and the oracle composes the same way (the unrolled-Lloyd CTE feeds
# the token pipeline).
# --------------------------------------------------------------------------
@query(
    "q_cluster_terms",
    oracle=_KMEANS_CTE
    + """
    , toks AS (
      SELECT a2.cluster, unnest(string_split(lower(d.text), ' ')) AS tok
      FROM documents d JOIN a2 ON d.doc_id = a2.vec_id
    ),
    tf AS (
      SELECT cluster, tok, count(*) AS tf FROM toks
      WHERE tok <> '' GROUP BY cluster, tok
    ),
    ct AS (SELECT cluster, sum(tf) AS ctot FROM tf GROUP BY cluster),
    tt AS (SELECT tok, sum(tf) AS ttot FROM tf GROUP BY tok),
    tot AS (SELECT sum(tf) AS gtot FROM tf),
    scored AS (
      SELECT cluster, t.tok, tf,
             round(ln((CAST(tf AS DOUBLE) * gtot)
                      / (CAST(ctot AS DOUBLE) * ttot)), 6) AS score
      FROM tf t
      JOIN ct USING (cluster)
      JOIN tt USING (tok)
      CROSS JOIN tot
      WHERE tf >= 5
    ),
    ranked AS (
      SELECT cluster, tok, tf, score,
             row_number() OVER (PARTITION BY cluster
                                ORDER BY score DESC, tok) AS rk
      FROM scored
    )
    SELECT CAST(cluster AS INT) AS cluster, tok,
           CAST(tf AS BIGINT) AS tf, score, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 5
    ORDER BY cluster, rk
    """,
)
def q_cluster_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 distinguishing tokens per embedding cluster by
    cluster-token PMI: score = ln(P(tok|cluster) / P(tok)) — positive
    when a token is over-represented in the cluster relative to the
    corpus (class-based TF-IDF's df variant degenerates here because
    the synthetic corpus shares its vocabulary across clusters —
    presence can't separate, frequency can; min support tf ≥ 5).

    Determinism: cluster assignments carry q_kmeans' full contract
    (deterministic init, 6-dp centroid rounds); all four PMI inputs
    are integer counts, so ln sees the identical exact-integer-product
    double ratio in both engines — 6-dp rounded ordering with token
    tiebreak (the q_collocations frontier rule).
    Scale shape: assignment is the zero-shuffle projection against
    centroid literals; the token pipeline is explode → two hash aggs
    (tf keyed by (cluster, token), df by token — the second input is
    already cluster-deduped, vocabulary-sized); the per-cluster top-5
    is a window over k partitions of the SCORED (vocabulary-sized)
    table, not the corpus."""
    from mysql_cdc_to_http_spark.operators.clustering import kmeans
    from pyspark.sql.window import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = kmeans(emb, k=4, iters=2).select("vec_id", "cluster")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = (
        docs.join(assigned, F.col("doc_id") == F.col("vec_id"))
        .select(
            "cluster",
            F.explode(F.split(F.lower("text"), " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    # r16 (guide §2.4/§5): the cluster totals, token totals, grand
    # total and the scored join each re-derived the (cluster, token)
    # counts — and the doc-join + explode + kmeans-assignment
    # projection under them — per consumer (measured plan: 10 Exchange
    # / 8 scans). tf is vocabulary-sized: persist it, one token pass.
    tf = caching.persist(
        toks.groupBy("cluster", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    ct = tf.groupBy("cluster").agg(F.sum("tf").alias("ctot"))
    tt = tf.groupBy("tok").agg(F.sum("tf").alias("ttot"))
    tot = tf.agg(F.sum("tf").alias("gtot"))
    scored = (
        tf.filter(F.col("tf") >= 5)
        .join(F.broadcast(ct), "cluster")
        .join(tt, "tok")
        .crossJoin(F.broadcast(tot))
        .select(
            "cluster",
            "tok",
            "tf",
            F.round(
                F.log(
                    (F.col("tf").cast("double") * F.col("gtot"))
                    / (F.col("ctot").cast("double") * F.col("ttot"))
                ),
                6,
            ).alias("score"),
        )
    )
    ranked = scored.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("cluster").orderBy(
                F.col("score").desc(), F.col("tok")
            )
        ),
    )
    return (
        ranked.filter(F.col("rk") <= 5)
        .select(
            F.col("cluster").cast("int").alias("cluster"),
            "tok",
            F.col("tf").cast("bigint").alias("tf"),
            "score",
            F.col("rk").cast("bigint").alias("rk"),
        )
        .orderBy("cluster", "rk")
    )


# --------------------------------------------------------------------------
# X155 — IVF-PQ composed search: the full billion-scale ANN recipe
# (coarse inverted-file probe → PQ asymmetric distance over the probed
# cell), EXACT-oracled because both trained stages are deterministic —
# the oracle stitches the unrolled coarse-Lloyd CTE to the unrolled
# per-subspace PQ CTEs.
# --------------------------------------------------------------------------
def _ivfpq_oracle(adc_k: int = 10) -> str:
    pq = _pq_oracle(adc_k=adc_k)
    # merge WITH-clauses: coarse quantizer CTEs first, then PQ's
    assert pq.startswith("WITH e0 AS")
    merged = _KMEANS_CTE.rstrip() + ",\n" + pq[len("WITH ") :]
    # restrict the ADC ranking to the query's coarse cell (nprobe=1)
    tail_from = (
        "FROM adc_0 JOIN adc_1 USING (vec_id) JOIN adc_2 USING (vec_id)"
        " JOIN adc_3 USING (vec_id) ORDER BY adc_dist, vec_id"
    )
    assert tail_from in merged
    merged = merged.replace(
        tail_from,
        "FROM adc_0 JOIN adc_1 USING (vec_id) JOIN adc_2 USING (vec_id)"
        " JOIN adc_3 USING (vec_id)"
        " JOIN a2 USING (vec_id),"
        " (SELECT cluster AS qc FROM a2 ORDER BY vec_id LIMIT 1)"
        " WHERE a2.cluster = qc"
        " ORDER BY adc_dist, vec_id",
    )
    return merged


@query("q_knn_ivfpq", oracle=_ivfpq_oracle())
def q_knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search, composed end-to-end: a coarse k-means quantizer
    routes the query to its inverted-file cell (nprobe=1), and PQ
    asymmetric distance ranks ONLY that cell's codes — the memory/
    compute recipe behind billion-vector ANN indexes (cell pruning ×
    256→4-byte codes), assembled from the engine's existing
    deterministic stages.

    Scale shape: cell assignment and ADC are both projections against
    driver-model literals; the probed cell is ~N/k_coarse of the
    corpus, and the search never reads a float vector — codes only;
    top-k is TakeOrderedAndProject. Exactness: unlike the standalone
    IVF (rows-only, arbitrary recall), BOTH trained stages here are
    deterministic Lloyd (lowest-id init, 6-dp centroid rounds), so the
    composed result is a pure function of the data — the oracle
    stitches the q_kmeans CTE to the q_knn_pq CTEs and filters the ADC
    ranking to the query's cell. Recall vs exact brute-force remains
    data-limited on the near-isotropic corpus (the documented X45/X113
    caveat); what this query certifies is the COMPOSITION."""
    from mysql_cdc_to_http_spark.operators.clustering import (
        assign_clusters,
        kmeans,
        pq_adc_topk,
        pq_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = kmeans(emb, k=4, iters=2).select("vec_id", "cluster")
    qcell = assigned.orderBy("vec_id").select("cluster").first()[0]
    cands = assigned.filter(F.col("cluster") == F.lit(qcell)).select(
        "vec_id"
    )
    books = pq_codebooks(emb, m=4, k=4, iters=2)
    sub = len(books[0][0])
    codes = None
    for s in range(4):
        piece = emb.select(
            "vec_id",
            F.slice(F.col("embedding"), s * sub + 1, sub).alias(
                "embedding"
            ),
        )
        enc = assign_clusters(piece, books[s]).select(
            "vec_id", F.col("cluster").alias(f"code_{s}")
        )
        codes = enc if codes is None else codes.join(enc, "vec_id")
    qvec = [
        float(x)
        for x in emb.orderBy("vec_id").select("embedding").first()[0]
    ]
    return pq_adc_topk(codes.join(cands, "vec_id"), books, qvec, k=10)


# --------------------------------------------------------------------------
# X207 — grid-blocked EXACT spatial nearest-neighbor join: the 2-D
# analog of the ANN ladder's quantize-then-verify discipline, with a
# certification radius instead of a recall gamble.
# --------------------------------------------------------------------------
@query(
    "q_join_spatial_grid",
    oracle="""
    WITH cust AS (
      SELECT c_custkey AS cid,
             ('0x' || substr(md5('geo-x|' || CAST(c_custkey AS VARCHAR)), 1, 6)
             )::BIGINT % 1000000 AS x,
             ('0x' || substr(md5('geo-y|' || CAST(c_custkey AS VARCHAR)), 1, 6)
             )::BIGINT % 1000000 AS y
      FROM customer
    ),
    supp AS (
      SELECT s_suppkey AS sid,
             ('0x' || substr(md5('geo-x|s' || CAST(s_suppkey AS VARCHAR)), 1, 6)
             )::BIGINT % 1000000 AS x,
             ('0x' || substr(md5('geo-y|s' || CAST(s_suppkey AS VARCHAR)), 1, 6)
             )::BIGINT % 1000000 AS y
      FROM supplier
    ),
    d AS (
      SELECT s.sid, c.cid,
             (s.x - c.x) * (s.x - c.x) + (s.y - c.y) * (s.y - c.y) AS d2
      FROM supp s CROSS JOIN cust c
    ),
    r AS (
      SELECT sid, cid, d2,
             row_number() OVER (PARTITION BY sid ORDER BY d2, cid) AS rn
      FROM d
    )
    SELECT sid AS s_suppkey, cid AS nn, CAST(d2 AS BIGINT) AS dist2
    FROM r WHERE rn = 1
    ORDER BY s_suppkey
    """,
)
def q_join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X207 — nearest customer to every supplier in a synthetic 2-D
    integer plane (coordinates are md5-derived from the keys — the
    engine's determinism primitive — so both engines build the exact
    same point set; squared distances stay integer end-to-end).

    The engine runs operators/similarity.py:grid_nearest_join — 3×3
    grid-cell candidates, winners certified global when dist ≤ cell,
    brute-force only for the residue — while the DuckDB oracle is the
    PLAIN all-pairs argmin. Hash equality therefore certifies the
    grid scheme EXACT, not approximately right: blocking changed the
    join's cost shape (per-cell candidates vs |S|×|C|), not its
    result. Cell = 125,000 (an 8×8 grid over the 10⁶ square) sized so
    typical neighborhoods hold candidates within the certification
    radius."""
    from mysql_cdc_to_http_spark.operators.sampling import split_bucket
    from mysql_cdc_to_http_spark.operators.similarity import (
        grid_nearest_join,
    )

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("pid"),
        split_bucket(F.col("c_custkey"), 1000000, salt="geo-x").alias("x"),
        split_bucket(F.col("c_custkey"), 1000000, salt="geo-y").alias("y"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("qid"),
        split_bucket(
            F.concat(F.lit("s"), F.col("s_suppkey").cast("string")),
            1000000,
            salt="geo-x",
        ).alias("x"),
        split_bucket(
            F.concat(F.lit("s"), F.col("s_suppkey").cast("string")),
            1000000,
            salt="geo-y",
        ).alias("y"),
    )
    out = grid_nearest_join(supp, cust, cell=125000, qid="qid", pid="pid")
    return out.select(
        F.col("qid").alias("s_suppkey"), "nn", "dist2"
    ).orderBy("s_suppkey")


# --------------------------------------------------------------------------
# X236 — k-anonymity audit (Sweeney 2002): equivalence-class size
# distribution over a quasi-identifier tuple, and the re-identification
# exposure it implies at k = 2/5/10 — the governance gate a dataset
# passes BEFORE export, next to X63's PII redaction (redaction removes
# direct identifiers; k-anonymity measures whether the remaining
# quasi-identifiers still single people out). Exact integers end to
# end.
# --------------------------------------------------------------------------
@query(
    "q_k_anonymity",
    oracle="""
    WITH classes AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS sz
      FROM customer GROUP BY 1, 2
    )
    SELECT CAST(SUM(sz) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(sz) AS BIGINT) AS k_anonymity,
           CAST(SUM(CASE WHEN sz < 2 THEN sz ELSE 0 END) * 1000000
                // SUM(sz) AS BIGINT) AS at_risk_k2_micro,
           CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) * 1000000
                // SUM(sz) AS BIGINT) AS at_risk_k5_micro,
           CAST(SUM(CASE WHEN sz < 10 THEN sz ELSE 0 END) * 1000000
                // SUM(sz) AS BIGINT) AS at_risk_k10_micro,
           CAST(SUM(1000000 // sz) // COUNT(*) AS BIGINT)
             AS mean_reid_prob_micro
    FROM classes
    """,
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X236 — k-anonymity audit over the (nation, market-segment)
    quasi-identifier tuple: the dataset's k (smallest equivalence
    class), the fraction of rows living in classes below k = 2/5/10
    (the rows an adversary joining on the quasi-identifiers could
    narrow to fewer than k candidates), and the mean per-class
    re-identification probability (average of 1/size — the prosecutor-
    model risk). A release gate reads one row: publish iff
    ``k_anonymity >= k_policy``.

    Exactness: class sizes are exact counts; every ratio is a truncated
    integer micro-unit division (1e6 div sz per class, then the
    integer mean), so both engines hash identically. Scale shape: one
    scan → quasi-identifier count aggregate with map-side partials →
    a class-table (product of QI cardinalities, model-sized) rollup;
    nothing fact-sized after the first aggregate."""
    cust = load_table(spark, sf_dir, "customer")
    classes = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    return classes.agg(
        F.sum("sz").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.min("sz").cast("long").alias("k_anonymity"),
        F.expr(
            "CAST(SUM(CASE WHEN sz < 2 THEN sz ELSE 0 END) * 1000000"
            " div SUM(sz) AS BIGINT)"
        ).alias("at_risk_k2_micro"),
        F.expr(
            "CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) * 1000000"
            " div SUM(sz) AS BIGINT)"
        ).alias("at_risk_k5_micro"),
        F.expr(
            "CAST(SUM(CASE WHEN sz < 10 THEN sz ELSE 0 END) * 1000000"
            " div SUM(sz) AS BIGINT)"
        ).alias("at_risk_k10_micro"),
        F.expr(
            "CAST(SUM(1000000 div sz) div COUNT(1) AS BIGINT)"
        ).alias("mean_reid_prob_micro"),
    )


# --------------------------------------------------------------------------
# X245 — chunk→stitch round-trip audit: the integrity contract of the
# sliding-window chunker (X64). Every pair of consecutive chunks must
# agree byte-for-byte on their overlap region, and re-assembling each
# document from chunk 0 plus every later chunk's post-overlap suffix
# must reproduce the normalized original EXACTLY (md5-certified, the
# hash-the-payload rule) — the property RAG/pretraining pipelines
# assume when they chunk once and stitch context windows later. Runs
# the REAL chunker (operators/text.py:chunk_documents), not a copy of
# its math, so a chunker regression fails this oracle, not just unit
# tests.
# --------------------------------------------------------------------------
@query(
    "q_chunk_stitch",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                          ' ') AS t
      FROM documents
    ),
    dims AS (
      SELECT doc_id, t, len(t) AS n,
             least(((greatest(len(t) - 32, 0) + 15) // 16) * 16 + 1,
                   len(t)) AS last_start
      FROM tok
    ),
    chunks AS (
      SELECT doc_id, n,
             (s - 1) // 16 AS chunk_id, s,
             t[s:least(s + 31, n)] AS c
      FROM (SELECT doc_id, t, n,
                   unnest(range(1, last_start + 1, 16)) AS s
            FROM dims)
    ),
    lagd AS (
      SELECT doc_id, n, chunk_id, s, c,
             lag(s + len(c) - 1) OVER w AS prev_end,
             lag(c) OVER w AS prev_c
      FROM chunks
      WINDOW w AS (PARTITION BY doc_id ORDER BY chunk_id)
    ),
    contrib AS (
      SELECT doc_id, n, chunk_id,
             CASE WHEN prev_end IS NULL THEN 0
                  ELSE greatest(prev_end - s + 1, 0) END AS ov,
             c, prev_c
      FROM lagd
    ),
    checked AS (
      SELECT doc_id, n, chunk_id,
             (ov = 0 OR c[1:ov] = prev_c[len(prev_c)-ov+1:len(prev_c)])
               AS boundary_ok,
             array_to_string(c[ov+1:len(c)], ' ') AS piece
      FROM contrib
    ),
    agg AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_chunks,
             CAST(max(n) AS BIGINT) AS n_tokens,
             bool_and(boundary_ok) AS boundaries_ok,
             md5(string_agg(piece, ' ' ORDER BY chunk_id)) AS stitched_md5
      FROM checked GROUP BY doc_id
    )
    SELECT a.doc_id, a.n_chunks, a.n_tokens, a.boundaries_ok,
           (a.stitched_md5 = md5(array_to_string(tok.t, ' ')))
             AS roundtrip_ok
    FROM agg a JOIN tok USING (doc_id)
    ORDER BY a.doc_id
    """,
)
def q_chunk_stitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X245 — chunk→stitch integrity audit over the real chunker.

    Per doc: overlap-region agreement across every consecutive chunk
    pair (boundaries_ok) and md5(stitch) == md5(normalized original)
    (roundtrip_ok). Determinism: chunk starts/lengths are integer
    arithmetic; the overlap comparison and the stitch are pure array
    slices; only md5s of the assembled bytes are compared. Scale
    shape: the chunker is a no-shuffle explode projection; the audit
    adds ONE doc-keyed window (lag) and ONE doc-keyed aggregate that
    ride the same hash partitioning (single exchange), then a
    doc-keyed join back to the original md5 — all keyed by doc_id,
    never global. Reference analog: none (main.go has no text
    surface).
    """
    from mysql_cdc_to_http_spark.operators.text import chunk_documents
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_documents(
        docs, "doc_id", "text", chunk_tokens=32, stride=16
    ).select(
        "doc_id",
        "chunk_id",
        "start_token",
        F.split(F.col("chunk_text"), " ").alias("c"),
    )
    w = Window.partitionBy("doc_id").orderBy("chunk_id")
    lagd = chunks.select(
        "doc_id",
        "chunk_id",
        "start_token",
        "c",
        F.lag(F.col("start_token") + F.size("c") - 1).over(w).alias(
            "prev_end"
        ),
        F.lag("c").over(w).alias("prev_c"),
    )
    ov = F.when(F.col("prev_end").isNull(), F.lit(0)).otherwise(
        F.greatest(F.col("prev_end") - F.col("start_token") + 1, F.lit(0))
    )
    checked = lagd.select(
        "doc_id",
        "chunk_id",
        ov.alias("ov"),
        "c",
        "prev_c",
    ).select(
        "doc_id",
        "chunk_id",
        (
            (F.col("ov") == 0)
            | (
                F.slice(F.col("c"), 1, F.col("ov"))
                == F.expr(
                    "slice(prev_c, size(prev_c) - ov + 1, ov)"
                )
            )
        ).alias("boundary_ok"),
        F.expr("slice(c, ov + 1, size(c) - ov)").alias("piece"),
    )
    agg = checked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.min("boundary_ok").alias("boundaries_ok"),
        F.md5(
            F.array_join(
                F.flatten(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct("chunk_id", "piece")
                            )
                        ),
                        lambda x: x["piece"],
                    )
                ),
                " ",
            )
        ).alias("stitched_md5"),
    )
    orig = docs.select(
        "doc_id",
        F.split(
            F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")),
            " ",
        ).alias("t"),
    ).select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        F.md5(F.array_join(F.col("t"), " ")).alias("orig_md5"),
    )
    return (
        agg.join(orig, "doc_id")
        .select(
            "doc_id",
            "n_chunks",
            "n_tokens",
            "boundaries_ok",
            (F.col("stitched_md5") == F.col("orig_md5")).alias(
                "roundtrip_ok"
            ),
        )
        
    )


# --------------------------------------------------------------------------
# X282 — differentially-private histogram (deterministic Laplace):
# per-language doc counts released with Laplace noise at an epsilon
# ladder — the standard (eps, 0)-DP counting mechanism, made
# reproducible for the oracle by drawing the uniform from a salted
# md5 of the cell key (inverse-CDF transform) instead of an RNG. The
# privacy calculus is the published one (sensitivity 1, b = 1/eps);
# only the noise SOURCE is derandomized, which is exactly what a
# seeded production release does. An audit query — the production
# release would drop true_count; it is kept here so the noise scale
# is oracle-checkable against the eps ladder.
# --------------------------------------------------------------------------
_DP_SALT = "dp-v1"
_DP_EPS_MILLI = (500, 1000, 2000)


@query(
    "q_dp_histogram",
    oracle=rf"""
    WITH hist AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS true_count
      FROM documents GROUP BY lang
    ),
    ladder AS (
      SELECT unnest([{", ".join(str(e) for e in _DP_EPS_MILLI)}])
               AS eps_milli
    ),
    noised AS (
      SELECT lang, eps_milli, true_count,
             ('0x' || substr(md5(lang || '|' || CAST(eps_milli AS VARCHAR)
                                 || '|{_DP_SALT}'), 1, 15))::BIGINT AS h
      FROM hist CROSS JOIN ladder
    ),
    lap AS (
      SELECT lang, eps_milli, true_count,
             CAST(h AS DOUBLE) / 1152921504606846976.0 - 0.5 AS uh
      FROM noised
    )
    SELECT lang, CAST(eps_milli AS INT) AS eps_milli, true_count,
           CAST(true_count * 1000000
                + round(-(1000.0 / eps_milli)
                        * CASE WHEN uh < 0 THEN -1.0 ELSE 1.0 END
                        * ln(1.0 - 2.0 * abs(uh)) * 1000000)
                AS BIGINT) AS noisy_micro
    FROM lap ORDER BY lang, eps_milli
    """,
)
def q_dp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X282 — eps-DP Laplace counts per language at eps in
    {0.5, 1.0, 2.0} (sensitivity 1, b = 1/eps), noise drawn by
    inverse-CDF from a salted-md5 uniform.

    Exactness: the uniform is h/2^60 where h is the md5 15-hex long —
    h first rounds to the SAME double in both engines (IEEE
    round-to-nearest of an integer < 2^60), the divisor is a power of
    two (exact), so ln sees an identical double; one libm call per
    cell, micro-rounding absorbs the ulp (q_char_entropy rule).
    Scale shape: one fact-sized count aggregate; the eps ladder is a
    3-row broadcast cross; noise is constant per-cell arithmetic.
    Composition note: a production release would drop true_count and
    account eps across repeated releases; the mechanism and scale
    calculus here are the standard ones."""
    docs = load_table(spark, sf_dir, "documents")
    hist = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("true_count")
    )
    ladder = docs.sparkSession.createDataFrame(
        [(e,) for e in _DP_EPS_MILLI], "eps_milli int"
    )
    noised = hist.crossJoin(F.broadcast(ladder)).withColumn(
        "uh",
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("lang"),
                        F.col("eps_milli").cast("string"),
                        F.lit(_DP_SALT),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .cast("double")
        / F.lit(1152921504606846976.0)
        - F.lit(0.5),
    )
    return noised.select(
        "lang",
        "eps_milli",
        "true_count",
        (
            F.col("true_count") * F.lit(1000000)
            + F.round(
                (F.lit(-1000.0) / F.col("eps_milli"))
                * F.when(F.col("uh") < 0, F.lit(-1.0)).otherwise(
                    F.lit(1.0)
                )
                * F.log(F.lit(1.0) - F.lit(2.0) * F.abs("uh"))
                * F.lit(1000000.0)
            ).cast("long")
        )
        .cast("long")
        .alias("noisy_micro"),
    ).orderBy("lang", "eps_milli")


def _kmeans_cte_k(k: int) -> str:
    """The X72 two-Lloyd-iteration k-means unrolled in SQL, with k as
    a parameter and the FINAL (post-iteration-2) centroids cent2 —
    shared by the X298 silhouette and X299 elbow oracles. Identical
    structure to _KMEANS_CTE (init = k lowest-id vectors, centroids
    6-dp-rounded before the next assignment, arg-min ties to the
    lowest cluster id)."""
    return f"""
    WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
    init AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, v AS c
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {k})
    ),
    d1 AS (
      SELECT e.vec_id, i.cluster,
             list_sum([
               (CAST(e.v[x] AS DOUBLE) - CAST(i.c[x] AS DOUBLE))
               * (CAST(e.v[x] AS DOUBLE) - CAST(i.c[x] AS DOUBLE))
               FOR x IN generate_series(1, 64)
             ]) AS dist
      FROM e, init i
    ),
    a1 AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cluster) AS rn
        FROM d1
      ) WHERE rn = 1
    ),
    cent1 AS (
      SELECT cluster, list(m ORDER BY pos) AS c FROM (
        SELECT a1.cluster, g.x AS pos,
               round(avg(CAST(e.v[g.x] AS DOUBLE)), 6) AS m
        FROM e JOIN a1 USING (vec_id), generate_series(1, 64) g(x)
        GROUP BY a1.cluster, g.x
      ) GROUP BY cluster
    ),
    d2 AS (
      SELECT e.vec_id, c1.cluster,
             list_sum([
               (CAST(e.v[x] AS DOUBLE) - c1.c[x])
               * (CAST(e.v[x] AS DOUBLE) - c1.c[x])
               FOR x IN generate_series(1, 64)
             ]) AS dist
      FROM e, cent1 c1
    ),
    a2 AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cluster) AS rn
        FROM d2
      ) WHERE rn = 1
    ),
    cent2 AS (
      SELECT cluster, list(m ORDER BY pos) AS c FROM (
        SELECT a2.cluster, g.x AS pos,
               round(avg(CAST(e.v[g.x] AS DOUBLE)), 6) AS m
        FROM e JOIN a2 USING (vec_id), generate_series(1, 64) g(x)
        GROUP BY a2.cluster, g.x
      ) GROUP BY cluster
    ),
    dd AS (
      SELECT e.vec_id, a.cluster AS own, c2.cluster AS cand,
             sqrt(list_sum([
               (CAST(e.v[x] AS DOUBLE) - c2.c[x])
               * (CAST(e.v[x] AS DOUBLE) - c2.c[x])
               FOR x IN generate_series(1, 64)
             ])) AS dist
      FROM e JOIN a2 a USING (vec_id), cent2 c2
    )"""


# --------------------------------------------------------------------------
# X298 — simplified silhouette (centroid form): per cluster, the mean
# of s_i = (b_i − a_i)/max(a_i, b_i) with a_i = distance to the own
# centroid and b_i = distance to the nearest other centroid — the
# cluster-quality audit run after every X72 k-means (the full
# silhouette is O(n²) pairwise; the centroid form is the published
# O(n·k) variant production uses). Per-point s is rounded to micro
# (one sqrt+ratio per point; centroids are 6-dp-rounded identical
# values in both engines), then means are exact integer division.
# --------------------------------------------------------------------------
@query(
    "q_silhouette",
    oracle=_kmeans_cte_k(4)
    + """
    , sil AS (
      SELECT vec_id, own,
             MAX(CASE WHEN cand = own THEN dist END) AS a,
             MIN(CASE WHEN cand != own THEN dist END) AS b
      FROM dd GROUP BY vec_id, own
    ),
    pt AS (
      SELECT own,
             CAST(round(CASE WHEN greatest(a, b) > 0
                  THEN (b - a) / greatest(a, b) ELSE 0 END * 1000000)
                  AS BIGINT) AS s_micro
      FROM sil
    )
    SELECT CAST(own AS INT) AS cluster,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(SUM(s_micro) // count(*) AS BIGINT)
             AS mean_silhouette_micro
    FROM pt GROUP BY own ORDER BY cluster
    """,
)
def q_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X298 — per-cluster simplified silhouette over the X72 k-means
    (k=4, 2 Lloyd iterations, final centroids).

    Exactness: centroids are 6-dp-rounded identical values; per-point
    distances fold the 64 dims in index order in both engines; the
    ratio is rounded to micro per point (ulp-absorbing, the house
    rule) and the cluster mean is a truncated integer division of the
    rounded values. Scale shape: assignment and the k-distance
    projection are per-row work against a broadcast k×64 centroid
    table (no joins on the fact side beyond the assignment X72
    already does); the rollup is cluster-count-sized."""
    from pyspark.sql.window import Window as W

    from mysql_cdc_to_http_spark.operators.clustering import kmeans

    emb = load_table(spark, sf_dir, "embeddings")
    assign = kmeans(emb, k=4, iters=2).select("vec_id", "cluster")
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).join(assign, "vec_id")
    cent2 = (
        e.select(
            "cluster", F.posexplode("v").alias("pos", "x")
        )
        .groupBy("cluster", "pos")
        .agg(F.round(F.avg("x"), 6).alias("m"))
        .groupBy("cluster")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, m))),"
                " s -> s.m)"
            ).alias("c")
        )
    )
    dd = (
        e.crossJoin(
            F.broadcast(
                cent2.select(
                    F.col("cluster").alias("cand"), F.col("c")
                )
            )
        )
        .select(
            "vec_id",
            F.col("cluster").alias("own"),
            "cand",
            F.sqrt(
                F.expr(
                    "aggregate(zip_with(v, c, (x, y) ->"
                    " (x - y) * (x - y)), 0D, (acc, t) -> acc + t)"
                )
            ).alias("dist"),
        )
    )
    sil = dd.groupBy("vec_id", "own").agg(
        F.max(F.when(F.col("cand") == F.col("own"), F.col("dist"))).alias(
            "a"
        ),
        F.min(F.when(F.col("cand") != F.col("own"), F.col("dist"))).alias(
            "b"
        ),
    )
    pt = sil.select(
        "own",
        F.round(
            F.when(
                F.greatest("a", "b") > 0,
                (F.col("b") - F.col("a")) / F.greatest("a", "b"),
            ).otherwise(F.lit(0.0))
            * 1000000
        )
        .cast("long")
        .alias("s_micro"),
    )
    return (
        pt.groupBy("own")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.expr(
                "CAST(SUM(s_micro) div count(1) AS BIGINT)"
            ).alias("mean_silhouette_micro"),
        )
        .select(
            F.col("own").cast("int").alias("cluster"),
            "n_points",
            "mean_silhouette_micro",
        )
        .orderBy("cluster")
    )


# --------------------------------------------------------------------------
# X299 — k-means elbow curve: within-cluster inertia at k ∈ {2, 4, 8}
# (each a full two-Lloyd-iteration X72 run) — the model-selection
# curve read next to X298's silhouette before fixing k for SemDeDup /
# IVF / cluster blocking. Per-point squared distance to the own FINAL
# centroid is rounded to micro (sqrt→square of identical doubles),
# the inertia is then an exact integer sum.
# --------------------------------------------------------------------------
_ELBOW_KS = (2, 4, 8)


def _elbow_oracle() -> str:
    blocks = []
    for k in _ELBOW_KS:
        blocks.append(f"""
    SELECT {k} AS k,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(SUM(CAST(round(dist * dist * 1000000) AS BIGINT))
                AS BIGINT) AS inertia_micro
    FROM ({_kmeans_cte_k(k)}
      SELECT dist FROM dd WHERE cand = own
    )""")
    return "\n    UNION ALL ".join(blocks) + "\n    ORDER BY k"


@query("q_elbow_curve", oracle=_elbow_oracle())
def q_elbow_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X299 — inertia vs k for the deterministic k-means.

    Exactness: the per-point distance is the same index-ordered fold
    against 6-dp-rounded final centroids as X298; squaring the sqrt
    reproduces the identical double in both engines and the micro
    round absorbs the ulp; inertia is an exact integer sum. Scale
    shape: three constant-k runs, each the X72 plan (assignment =
    broadcast-centroid projection, centroid recompute = one
    (cluster, dim)-keyed aggregate); the sweep is a 3-row union —
    sweep size is a constant, the corpus is scanned once per run.

    r16 optimization (guide §2.6, overlap independent jobs): each
    k-means fit blocks the driver on model-sized collects (init seed +
    per-iteration centroid recompute), so the three fits serialized ~6
    small jobs of pure driver/scheduler latency. The fits are
    independent — run them from a thread pool so each fit's collect
    jobs back-fill the executors idled by another fit's barrier.
    Results are unchanged: each fit's trajectory is a pure function of
    (data, k), never of scheduling order (the clustering module's
    determinism contract). Measured at sf0.1 interleaved A/B: 2.9-4.4 s
    serial → 2.2-2.3 s threaded."""
    from concurrent.futures import ThreadPoolExecutor

    from mysql_cdc_to_http_spark.operators.clustering import kmeans

    emb = load_table(spark, sf_dir, "embeddings")

    def _fit(k: int) -> DataFrame:
        return kmeans(emb, k=k, iters=2).select("vec_id", "cluster")

    with ThreadPoolExecutor(max_workers=len(_ELBOW_KS)) as pool:
        assigns = dict(zip(_ELBOW_KS, pool.map(_fit, _ELBOW_KS)))

    out = None
    for k in _ELBOW_KS:
        assign = assigns[k]
        e = emb.select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("v"),
        ).join(assign, "vec_id")
        cent2 = (
            e.select("cluster", F.posexplode("v").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.round(F.avg("x"), 6).alias("m"))
            .groupBy("cluster")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, m))),"
                    " s -> s.m)"
                ).alias("c")
            )
        )
        dist = F.sqrt(
            F.expr(
                "aggregate(zip_with(v, c, (x, y) ->"
                " (x - y) * (x - y)), 0D, (acc, t) -> acc + t)"
            )
        )
        point = (
            e.join(F.broadcast(cent2), "cluster")
            .select(
                F.round(dist * dist * 1000000).cast("long").alias("d2")
            )
            .agg(
                F.lit(k).cast("int").alias("k"),
                F.count(F.lit(1)).cast("long").alias("n_points"),
                F.sum("d2").cast("long").alias("inertia_micro"),
            )
            .select("k", "n_points", "inertia_micro")
        )
        out = point if out is None else out.unionByName(point)
    return out.orderBy("k")


# --------------------------------------------------------------------------
# X318 — l-diversity release audit: X236's k-anonymity says every
# quasi-identifier group is large enough; this says each group's
# SENSITIVE attribute (source) is diverse enough (>= l distinct
# values) — the Machanavajjhala et al. refinement that blocks the
# homogeneity attack k-anonymity misses (a group of 50 docs all from
# one source leaks the source regardless of k).
# --------------------------------------------------------------------------
@query(
    "q_l_diversity",
    oracle="""
    WITH g AS (
      SELECT lang,
             CASE WHEN n_chars < 250 THEN 'short'
                  WHEN n_chars < 400 THEN 'mid'
                  ELSE 'long' END AS bucket,
             CAST(count(*) AS BIGINT) AS group_size,
             CAST(count(DISTINCT source) AS BIGINT) AS distinct_sensitive
      FROM documents GROUP BY 1, 2
    )
    SELECT lang, bucket, group_size, distinct_sensitive,
           distinct_sensitive >= 3 AS l_diverse
    FROM g ORDER BY lang, bucket
    """,
)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X318 — distinct-l diversity (l = 3) of source within each
    (lang, length-bucket) quasi-identifier group.

    Exactness: pure integer counts and one distinct count per group;
    the flag is an integer comparison. Shares X301's bucket edges so
    the k-anonymity (X236), chi-square (X301) and diversity audits
    read off the same grid.

    Scale shape: one fact-sized groupBy with map-side partials (the
    distinct rides the same shuffle); output is grid-sized.
    Presentation sort is grid-bounded (allowlist class a)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "lang",
            F.when(F.col("n_chars") < 250, "short")
            .when(F.col("n_chars") < 400, "mid")
            .otherwise("long")
            .alias("bucket"),
            "source",
        )
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("group_size"),
            F.countDistinct("source").cast("long").alias(
                "distinct_sensitive"
            ),
        )
        .select(
            "lang",
            "bucket",
            "group_size",
            "distinct_sensitive",
            (F.col("distinct_sensitive") >= 3).alias("l_diverse"),
        )
        .orderBy("lang", "bucket")
    )


# --------------------------------------------------------------------------
# X319 — differentially-private mean release: per-language mean doc
# length via the standard sum/count decomposition — the value is
# clipped to [0, 1000] (sensitivity = 1000 for the sum, 1 for the
# count), eps is split evenly between the two Laplace releases, and
# the released mean is noisy_sum/noisy_count — the X282 counting
# mechanism extended to the first non-counting statistic. Noise is
# the same salted-md5 inverse-CDF draw as X282 (derandomized SOURCE,
# published calculus), distinct salt per (cell, statistic).
# --------------------------------------------------------------------------
_DPM_SALT = "dpmean-v1"


@query(
    "q_dp_mean",
    oracle=rf"""
    WITH hist AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(least(greatest(n_chars, 0), 1000)) AS BIGINT) AS s
      FROM documents GROUP BY lang
    ),
    ladder AS (SELECT unnest([500, 1000, 2000]) AS eps_milli),
    drawn AS (
      SELECT lang, eps_milli, n, s,
             CAST(('0x' || substr(md5(lang || '|s|'
                   || CAST(eps_milli AS VARCHAR) || '|{_DPM_SALT}'), 1, 15))
                  ::BIGINT AS DOUBLE) / 1152921504606846976.0 - 0.5 AS us,
             CAST(('0x' || substr(md5(lang || '|n|'
                   || CAST(eps_milli AS VARCHAR) || '|{_DPM_SALT}'), 1, 15))
                  ::BIGINT AS DOUBLE) / 1152921504606846976.0 - 0.5 AS un
      FROM hist CROSS JOIN ladder
    ),
    rel AS (
      SELECT lang, eps_milli, n, s,
             CAST(s AS DOUBLE)
             - (1000.0 / (CAST(eps_milli AS DOUBLE) / 2000.0))
               * CASE WHEN us < 0 THEN -1.0 ELSE 1.0 END
               * ln(1.0 - 2.0 * abs(us)) AS noisy_s,
             CAST(n AS DOUBLE)
             - (1.0 / (CAST(eps_milli AS DOUBLE) / 2000.0))
               * CASE WHEN un < 0 THEN -1.0 ELSE 1.0 END
               * ln(1.0 - 2.0 * abs(un)) AS noisy_n
      FROM drawn
    )
    SELECT lang, CAST(eps_milli AS INT) AS eps_milli,
           CAST(s * 1000000 // n AS BIGINT) AS true_mean_micro,
           CAST(CASE WHEN noisy_n > 1.0
                THEN round(noisy_s / noisy_n * 1000000) END AS BIGINT)
             AS noisy_mean_micro
    FROM rel ORDER BY lang, eps_milli
    """,
)
def q_dp_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X319 — (eps, 0)-DP per-language mean length at eps in
    {0.5, 1.0, 2.0}, sum/count decomposition with even budget split.

    Exactness: clipped sums and counts are exact integers; both
    md5-uniforms quantize to the same IEEE double in both engines
    (15-hex long / 2^60 — the X282 argument); the Laplace transform
    and the final ratio are identical double expressions, micro round
    absorbs the ulp; rows whose noisy count lands at <= 1 emit NULL
    instead of a degenerate mean (post-processing guard), mirrored
    as a CASE in the oracle.

    Scale shape: one fact-sized groupBy(lang) with the clip inside
    the map-side partial; the eps ladder is a 3-row broadcast cross
    join; output is lang × 3. Presentation sort is grid-bounded
    (allowlist class a)."""
    docs = load_table(spark, sf_dir, "documents")
    hist = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.expr("least(greatest(n_chars, 0), 1000)"))
        .cast("long")
        .alias("s"),
    )
    ladder = docs.sparkSession.createDataFrame(
        [(500,), (1000,), (2000,)], "eps_milli int"
    )
    u = (
        lambda stat: F.expr(
            "CAST(conv(substr(md5(concat(lang, '|" + stat + "|',"
            " CAST(eps_milli AS STRING), '|" + _DPM_SALT + "')), 1, 15),"
            " 16, 10) AS DOUBLE) / 1152921504606846976.0 - 0.5"
        )
    )  # noqa: E731
    drawn = hist.crossJoin(F.broadcast(ladder)).select(
        "lang", "eps_milli", "n", "s",
        u("s").alias("us"), u("n").alias("un"),
    )
    rel = drawn.select(
        "lang",
        "eps_milli",
        "n",
        "s",
        F.expr(
            "CAST(s AS DOUBLE)"
            " - (1000.0 / (CAST(eps_milli AS DOUBLE) / 2000.0))"
            "   * CASE WHEN us < 0 THEN -1.0 ELSE 1.0 END"
            "   * ln(1.0 - 2.0 * abs(us))"
        ).alias("noisy_s"),
        F.expr(
            "CAST(n AS DOUBLE)"
            " - (1.0 / (CAST(eps_milli AS DOUBLE) / 2000.0))"
            "   * CASE WHEN un < 0 THEN -1.0 ELSE 1.0 END"
            "   * ln(1.0 - 2.0 * abs(un))"
        ).alias("noisy_n"),
    )
    return rel.select(
        "lang",
        F.col("eps_milli").cast("int").alias("eps_milli"),
        F.expr(
            "CAST(CAST(s AS DECIMAL(38,0)) * 1000000"
            " div CAST(n AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("true_mean_micro"),
        F.expr(
            "CAST(CASE WHEN noisy_n > 1.0"
            " THEN round(noisy_s / noisy_n * 1000000) END AS BIGINT)"
        ).alias("noisy_mean_micro"),
    ).orderBy("lang", "eps_milli")


# --------------------------------------------------------------------------
# X348 — Bloom-filter false-positive audit: build a deterministic
# Bloom membership (k=3 md5-derived bit positions, m=16384) over the
# src_00 vocabulary, probe it with every OTHER source's vocabulary,
# and compare the MEASURED false-positive rate against the published
# (1 − e^(−kn/m))^k formula — the sizing audit you run before trusting
# a Bloom side-filter (X139 q_join_bloom) at 100 TB.
# --------------------------------------------------------------------------
_BLOOM_M = 16384
_BLOOM_K = 3


@query(
    "q_bloom_fpr",
    oracle=rf"""
    WITH tokd AS (
      SELECT DISTINCT
             unnest(string_split(trim(regexp_replace(lower(text), '\s+',
                    ' ', 'g')), ' ')) AS w,
             source
      FROM documents
    ),
    members AS (SELECT DISTINCT w FROM tokd WHERE source = 'src_00'),
    probes AS (
      SELECT DISTINCT w FROM tokd WHERE source <> 'src_00'
      AND w NOT IN (SELECT w FROM members)
    ),
    mbits AS (
      SELECT DISTINCT pos FROM (
        SELECT ('0x' || substr(md5(w || '|' || CAST(k AS VARCHAR)
                || '|bloom-v1'), 1, 8))::BIGINT % {_BLOOM_M} AS pos
        FROM members, unnest([0, 1, 2]) AS ks(k)
      )
    ),
    pbits AS (
      SELECT w,
             ('0x' || substr(md5(w || '|' || CAST(k AS VARCHAR)
              || '|bloom-v1'), 1, 8))::BIGINT % {_BLOOM_M} AS pos
      FROM probes, unnest([0, 1, 2]) AS ks(k)
    ),
    hits AS (
      SELECT p.w,
             CAST(count(*) AS BIGINT) AS n_probe_bits,
             CAST(count(m.pos) AS BIGINT) AS n_set
      FROM pbits p LEFT JOIN mbits m ON p.pos = m.pos
      GROUP BY p.w
    ),
    agg AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM members) AS n_members,
             (SELECT CAST(count(*) AS BIGINT) FROM mbits) AS bits_set,
             CAST(count(*) AS BIGINT) AS n_probes,
             CAST(sum(CASE WHEN n_set = n_probe_bits THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_fp
      FROM hits
    )
    SELECT n_members, bits_set, n_probes, n_fp,
           CAST(n_fp * 1000000 // n_probes AS BIGINT)
             AS measured_fpr_micro,
           round(pow(1.0 - exp(-{_BLOOM_K}.0 * n_members / {_BLOOM_M}.0),
                     {_BLOOM_K}.0), 6) AS theory_fpr,
           round(pow(CAST(bits_set AS DOUBLE) / {_BLOOM_M}.0,
                     {_BLOOM_K}.0), 6) AS load_fpr
    FROM agg
    """,
)
def q_bloom_fpr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X348 — measured vs theoretical Bloom FPR (m=16384, k=3,
    md5-derived positions): `theory_fpr` is the classic approximation
    from n alone; `load_fpr` = (bits_set/m)^k is the exact-load form;
    `measured_fpr_micro` counts probes whose k positions are ALL set.

    Exactness: bit positions are integer md5-window mods (identical
    both engines); the measured rate is a truncated micro div of
    exact counts; the two formula columns are identical-input double
    pow/exp behind 6-dp rounds. Scale shape: member and probe
    vocabularies are distinct-aggregates (map-side combined); the
    probe check is a (pos)-key join of k·|vocab| rows against the
    ≤ m-row bit table (broadcastable — a Bloom bitset is SMALL, which
    is the point); output is 1 row."""
    docs = load_table(spark, sf_dir, "documents")
    tokd = docs.select(
        "source",
        F.explode(
            F.split(
                F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")),
                " ",
            )
        ).alias("w"),
    ).distinct()
    members = (
        tokd.filter(F.col("source") == "src_00").select("w").distinct()
    )
    probes = (
        tokd.filter(F.col("source") != "src_00")
        .select("w")
        .distinct()
        .join(members, "w", "left_anti")
    )
    ks = docs.sparkSession.createDataFrame([(0,), (1,), (2,)], "k int")

    def bits(df):
        return df.crossJoin(F.broadcast(ks)).select(
            "w",
            F.expr(
                f"CAST(conv(substr(md5(w || '|' || CAST(k AS STRING)"
                f" || '|bloom-v1'), 1, 8), 16, 10) AS BIGINT)"
                f" % {_BLOOM_M}"
            ).alias("pos"),
        )

    mbits = bits(members).select("pos").distinct()
    pbits = bits(probes)
    hits = (
        pbits.join(
            F.broadcast(mbits.withColumn("hit", F.lit(1))), "pos", "left"
        )
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_probe_bits"),
            F.sum(F.coalesce("hit", F.lit(0)))
            .cast("long")
            .alias("n_set"),
        )
    )
    nm = members.agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    nb = mbits.agg(F.count(F.lit(1)).cast("long").alias("bits_set"))
    agg = hits.agg(
        F.count(F.lit(1)).cast("long").alias("n_probes"),
        F.sum(
            F.expr(
                "CASE WHEN n_set = n_probe_bits THEN 1 ELSE 0 END"
            )
        )
        .cast("long")
        .alias("n_fp"),
    )
    return (
        agg.crossJoin(F.broadcast(nm))
        .crossJoin(F.broadcast(nb))
        .select(
            "n_members",
            "bits_set",
            "n_probes",
            "n_fp",
            F.expr(
                "CAST(n_fp * 1000000 div n_probes AS BIGINT)"
            ).alias("measured_fpr_micro"),
            F.round(
                F.expr(
                    f"pow(1.0 - exp(-{_BLOOM_K}.0 * n_members"
                    f" / {_BLOOM_M}.0), {_BLOOM_K}.0)"
                ),
                6,
            ).alias("theory_fpr"),
            F.round(
                F.expr(
                    f"pow(CAST(bits_set AS DOUBLE) / {_BLOOM_M}.0,"
                    f" {_BLOOM_K}.0)"
                ),
                6,
            ).alias("load_fpr"),
        )
    )
