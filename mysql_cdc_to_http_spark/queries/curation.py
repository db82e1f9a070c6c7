"""Corpus-curation queries: benchmark decontamination, repetition
scoring, domain-mixture sampling (operators/curation.py) — the standard
passes between dedup and tokenization in a pretraining-data pipeline.

All three are oracle-checked: counts are exact integers and every ratio
is the IEEE quotient of the same exact integers on both engines, so no
rounding is involved anywhere (see [[duckdb-spark-float-parity]] rules).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from mysql_cdc_to_http_spark.catalog import load_table
from mysql_cdc_to_http_spark.operators import caching
from mysql_cdc_to_http_spark.queries.registry import query

# Shared oracle fragment: word n-gram list per document, mirroring
# operators/curation.py:word_ngrams (1-based inclusive slice == Spark's
# slice(toks, i, n); short docs yield one clamped partial n-gram).
_TOK_CTE = r"""
tok AS (
  SELECT doc_id, source,
         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                      ' ') AS t
  FROM documents
)
"""


@query(
    "q_decontaminate",
    oracle=f"""
    WITH {_TOK_CTE},
    grams AS (
      SELECT doc_id, source,
             list_distinct(list_transform(
               range(1, greatest(len(t) - 4, 1) + 1),
               i -> array_to_string(t[i:i+4], ' '))) AS gs
      FROM tok
    ),
    bench AS (
      SELECT DISTINCT unnest(gs) AS ngram FROM grams WHERE source = 'src0'
    ),
    cg AS (
      SELECT doc_id, unnest(gs) AS ngram FROM grams WHERE source <> 'src0'
    ),
    hits AS (
      SELECT cg.doc_id,
             CAST(count(*) AS BIGINT)       AS ngrams_total,
             CAST(count(b.ngram) AS BIGINT) AS ngrams_matched
      FROM cg LEFT JOIN bench b USING (ngram)
      GROUP BY cg.doc_id
    )
    SELECT doc_id, ngrams_total, ngrams_matched,
           ngrams_matched / CAST(ngrams_total AS DOUBLE) AS overlap,
           (ngrams_matched / CAST(ngrams_total AS DOUBLE)) > 0.05
             AS is_contaminated
    FROM hits
    ORDER BY doc_id
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs whose 5-word-gram
    overlap with the benchmark set (stand-in: the 'src0' slice) exceeds
    5%. The benchmark n-gram set is broadcast — the membership join
    never shuffles the corpus; per-doc counts combine map-side."""
    from mysql_cdc_to_http_spark.operators.curation import (
        benchmark_ngram_set,
        decontaminate,
    )

    docs = load_table(spark, sf_dir, "documents")
    bench = benchmark_ngram_set(docs.filter(F.col("source") == "src0"), n=5)
    flagged = decontaminate(
        docs.filter(F.col("source") != "src0"), bench, n=5, max_overlap=0.05
    )
    return flagged.select(
        "doc_id",
        F.col("ngrams_total").cast("long").alias("ngrams_total"),
        F.col("ngrams_matched").cast("long").alias("ngrams_matched"),
        "overlap",
        "is_contaminated",
    )


@query(
    "q_repetition",
    oracle=f"""
    WITH {_TOK_CTE},
    g AS (
      SELECT doc_id,
             list_transform(range(1, greatest(len(t) - 2, 1) + 1),
                            i -> array_to_string(t[i:i+2], ' ')) AS gs
      FROM tok
    )
    SELECT doc_id,
           CAST(len(gs) AS BIGINT)                AS ngrams_total,
           CAST(len(list_distinct(gs)) AS BIGINT) AS ngrams_distinct,
           1.0 - len(list_distinct(gs)) / CAST(len(gs) AS DOUBLE)
             AS repetition
    FROM g
    ORDER BY doc_id
    """,
)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition ratio over word 3-grams — the cheap
    quality gate against looping/spammy text. Pure projection (no
    shuffle); the oracle recomputes the same multiset arithmetic."""
    from mysql_cdc_to_http_spark.operators.curation import repetition_score

    docs = load_table(spark, sf_dir, "documents")
    scored = repetition_score(docs, n=3)
    return scored.select(
        "doc_id",
        F.col("ngrams_total").cast("long").alias("ngrams_total"),
        F.col("ngrams_distinct").cast("long").alias("ngrams_distinct"),
        "repetition",
    )


@query(
    "q_domain_mix",
    oracle="""
    WITH thr AS (
      SELECT * FROM (VALUES
        ('src0', 'g'),
        ('src1', '80000000'),
        ('src2', '40000000'),
        ('src3', '20000000')
      ) AS v(source, thr)
    )
    SELECT d.doc_id, d.source
    FROM documents d LEFT JOIN thr USING (source)
    WHERE substring(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 8)
          < coalesce(thr.thr, '19999999')
    ORDER BY d.doc_id
    """,
)
def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture sampling: keep 100% of src0, 50% of src1, 25% of
    src2, 12.5% of src3, 10% of everything else — deterministic
    md5-threshold membership, identical on any engine/partitioning
    (operators/curation.py:domain_mix_sample). The oracle recomputes
    membership from scratch with the same thresholds."""
    from mysql_cdc_to_http_spark.operators.curation import domain_mix_sample

    docs = load_table(spark, sf_dir, "documents")
    mixed = domain_mix_sample(
        docs,
        rates={"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.125},
        default_rate=0.1,
        seed="mix",
    )
    return mixed.select("doc_id", "source").orderBy("doc_id")


@query(
    "q_pipeline_recipe",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, source,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                          ' ') AS t
      FROM documents
    ),
    ded AS (  -- exact dedup (lowest doc_id per text hash), corpus side only
      SELECT k.doc_id FROM (
        SELECT md5(text) AS h, min(doc_id) AS doc_id
        FROM documents WHERE source <> 'src0' GROUP BY md5(text)
      ) k
    ),
    q AS (
      SELECT tok.doc_id, tok.source, tok.t,
             CAST(len(tok.t) AS BIGINT) AS n_tokens,
             list_transform(range(1, greatest(len(tok.t) - 2, 1) + 1),
                            i -> array_to_string(t[i:i+2], ' ')) AS g3
      FROM tok JOIN ded USING (doc_id)
    ),
    quality AS (
      SELECT doc_id, source, t, n_tokens FROM q
      WHERE n_tokens >= 20
        AND (1.0 - len(list_distinct(g3)) / CAST(len(g3) AS DOUBLE)) <= 0.3
    ),
    g5 AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(t) - 4, 1) + 1),
               i -> array_to_string(t[i:i+4], ' '))) AS gs
      FROM quality
    ),
    bench AS (
      SELECT DISTINCT unnest(
        list_transform(range(1, greatest(len(t) - 4, 1) + 1),
                       i -> array_to_string(t[i:i+4], ' '))) AS ngram
      FROM tok WHERE source = 'src0'
    ),
    cg AS (SELECT doc_id, unnest(gs) AS ngram FROM g5),
    contam AS (
      SELECT cg.doc_id FROM cg LEFT JOIN bench b USING (ngram)
      GROUP BY cg.doc_id
      HAVING count(b.ngram) / CAST(count(*) AS DOUBLE) > 0.05
    ),
    mixed AS (
      SELECT doc_id, source, n_tokens FROM quality
      WHERE doc_id NOT IN (SELECT doc_id FROM contam)
        AND substring(md5('recipe:' || CAST(doc_id AS VARCHAR)), 1, 8)
            < CASE source WHEN 'src1' THEN 'g'
                          WHEN 'src2' THEN '80000000'
                          WHEN 'src3' THEN '40000000'
                          ELSE '80000000' END
    ),
    packed AS (
      SELECT doc_id, source, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cb
      FROM mixed
    )
    SELECT doc_id, source, n_tokens,
           CAST(floor(cb / 512) AS BIGINT) AS bin_id,
           cb % 512 AS offset_in_bin
    FROM packed ORDER BY doc_id
    """,
)
def q_pipeline_recipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data recipe as ONE dataflow — exact dedup →
    quality gate (length + repetition) → benchmark decontamination →
    domain-mixture sampling → sequence packing — every stage the
    engine's own operator, the whole chain oracle-checked end to end
    (each stage is deterministic, so the composition is too).

    Scale shape: one tokenize pass feeds length/repetition/packing; the
    only non-key shuffles are the dedup groupBy on the 16-byte text
    hash, the decontamination per-doc count, and the packing prefix sum
    — everything else is projections and broadcast/id joins."""
    from mysql_cdc_to_http_spark.operators.curation import (
        benchmark_ngram_set,
        decontaminate,
        domain_mix_sample,
        tokenize,
        word_ngrams_from_tokens,
    )
    from mysql_cdc_to_http_spark.operators.sampling import pack_sequences

    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("source") != "src0")
    # 1. exact dedup: lowest doc_id per content hash. One window over the
    # 16-byte hash instead of groupBy(min) + join-back-on-doc_id — the
    # same survivor set (doc_id is unique, so a row survives iff it IS
    # its hash group's min) for one fact shuffle instead of two plus the
    # join's sort (guide §2.4 — share the exchange, drop the join).
    deduped = (
        corpus.withColumn(
            "__mind",
            F.min("doc_id").over(W.partitionBy(F.md5("text"))),
        )
        .filter(F.col("doc_id") == F.col("__mind"))
        .drop("__mind")
    )
    # 2. one staged tokenize pass → length + repetition quality gate
    staged = deduped.select(
        "doc_id", "source", "text", tokenize(F.col("text")).alias("__toks")
    ).withColumn("__g3", word_ngrams_from_tokens(F.col("__toks"), 3))
    n_tokens = F.size("__toks").cast("long")
    repetition = F.lit(1.0) - F.size(F.array_distinct("__g3")) / F.size(
        "__g3"
    ).cast("double")
    # three consumers (decontaminate, the anti-join, the mixture) —
    # persist the NARROW survivor projection (arrays dropped) so the
    # tokenize+n-gram stage runs once, not three times (9.3 s →
    # ~3 s at sf0.1)
    quality = caching.persist(
        staged.withColumn("n_tokens", n_tokens)
        .withColumn("__rep", repetition)
        .filter((F.col("n_tokens") >= 20) & (F.col("__rep") <= 0.3))
        .select("doc_id", "source", "text", "n_tokens")
    )
    # 3. decontaminate vs the src0 benchmark slice
    bench = benchmark_ngram_set(docs.filter(F.col("source") == "src0"), n=5)
    contaminated = (
        decontaminate(quality, bench, n=5, max_overlap=0.05)
        .filter(F.col("is_contaminated"))
        .select("doc_id")
    )
    clean = quality.join(contaminated, "doc_id", "left_anti")
    # 4. domain mixture (deterministic md5 thresholds)
    mixed = domain_mix_sample(
        clean,
        rates={"src1": 1.0, "src2": 0.5, "src3": 0.25},
        default_rate=0.5,
        seed="recipe",
    )
    # 5. pack the survivors into 512-token bins in doc_id order
    packed = pack_sequences(
        mixed.select("doc_id", "n_tokens"), budget=512
    )
    return packed.join(mixed.select("doc_id", "source"), "doc_id").select(
        "doc_id", "source", "n_tokens", "bin_id", "offset_in_bin"
    )


# --------------------------------------------------------------------------
# CCNet-style line-level boilerplate removal
# --------------------------------------------------------------------------
#: Injected boilerplate (the corpus has no natural line structure — it is
#: one space-joined word stream per doc) — every third document gets this
#: line, mirroring nav-bar/cookie-banner contamination. The synthesis is
#: SQL-mirrored in the oracle, so the value check covers fixture + operator.
_BOILER = "subscribe to our newsletter for free updates click here now"
_LINE_W = 8
_LINE_MAX_DF = 5


def _line_corpus(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, line): the document word stream re-segmented into
    8-token lines (deterministic segmentation standing in for real \\n
    structure), plus the boilerplate line at pos -1 for doc_id % 3 == 0."""
    words = F.split(F.col("text"), " ")
    n_lines = F.ceil(F.size(words) / F.lit(float(_LINE_W))).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.array_join(
            F.slice(words, i * _LINE_W + 1, _LINE_W), " "
        ),
    )
    base = docs.select("doc_id", F.posexplode(lines).alias("pos", "line"))
    boiler = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", F.lit(-1).alias("pos"), F.lit(_BOILER).alias("line")
    )
    return base.unionByName(boiler)


@query(
    "q_dedup_lines",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    nl AS (
      SELECT doc_id, w,
             CAST(ceil(len(w) / {float(_LINE_W)}) AS INT) AS n FROM w
    ),
    ix AS (
      SELECT doc_id, w, unnest(range(n)) AS i FROM nl
    ),
    base AS (
      SELECT doc_id, CAST(i AS INT) AS pos,
             array_to_string(
               w[(i*{_LINE_W}+1):(i*{_LINE_W}+{_LINE_W})], ' ') AS line
      FROM ix
    ),
    lines AS (
      SELECT * FROM base
      UNION ALL
      SELECT doc_id, -1 AS pos, '{_BOILER}' AS line
      FROM documents WHERE doc_id % 3 = 0
    ),
    freq AS (
      SELECT md5(trim(line)) AS lk
      FROM lines GROUP BY 1
      HAVING COUNT(DISTINCT doc_id) > {_LINE_MAX_DF}
    ),
    kept AS (
      SELECT * FROM lines
      WHERE md5(trim(line)) NOT IN (SELECT lk FROM freq)
    ),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
             string_agg(line, chr(10) ORDER BY pos) AS cleaned
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(a.n_kept, 0) AS n_kept,
           md5(COALESCE(a.cleaned, '')) AS cleaned_md5
    FROM documents d LEFT JOIN agg a USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style line-level boilerplate removal — the dedup class
    document-level MinHash cannot see: a line repeated across many
    documents (nav bars, banners, signatures) is dropped everywhere,
    then documents are reassembled in original line order. The md5 of
    each cleaned document proves byte-identical reconstruction against
    the oracle, and all-lines-dropped docs survive as n_kept=0 rows.

    Scale shape (operators/curation.py:remove_frequent_lines): line
    doc-frequency groups on md5(line) — 16 bytes shuffled per line — and
    the frequent set is boilerplate-sized by definition, so the removal
    is a broadcast anti-join; reassembly is per-document collect_list
    (bounded by doc size, not corpus size)."""
    from mysql_cdc_to_http_spark.operators.curation import (
        reassemble_lines,
        remove_frequent_lines,
    )

    docs = load_table(spark, sf_dir, "documents")
    lines = _line_corpus(docs)
    kept = remove_frequent_lines(lines, max_doc_freq=_LINE_MAX_DF)
    return reassemble_lines(kept, docs)


@query(
    "q_quality_classifier",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                          ' ') AS t
      FROM documents
    ),
    tt AS (
      SELECT doc_id, len(t) AS n_tokens, unnest(t) AS tok FROM tok
    ),
    wt AS (
      SELECT doc_id, n_tokens,
             ((('0x' || substr(md5('qc-w1|' || CAST(
                  ('0x' || substr(md5('qc-v1|' || tok), 1, 6))::INTEGER % 1024
                AS VARCHAR)), 1, 6))::INTEGER % 2049) - 1024) / 1024.0 AS w
      FROM tt
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           SUM(w) / n_tokens AS quality_score,
           SUM(w) / n_tokens >= 0 AS keep
    FROM wt
    GROUP BY doc_id, n_tokens
    ORDER BY doc_id
    """,
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (operators/classifier.py): a
    hashed-bag-of-words linear model scored per document as ONE
    whole-stage-codegen projection — token array folded through
    F.aggregate, each token looked up by the hashing trick (md5 feature
    index -> md5-derived weight). No explode, no shuffle, no Python:
    the plan a 100 TB quality gate needs (the classifier runs inside
    the scan stage; output is the same row count as input).

    EXACT equality oracle with NO rounding slack: weights are k/1024
    (multiples of 2^-10, |w| <= 1), so per-doc sums are exact in IEEE
    double in any addition order, and the mean is one correctly-rounded
    division — DuckDB reproduces the doubles bit-for-bit."""
    from mysql_cdc_to_http_spark.operators.classifier import score_tokens
    from mysql_cdc_to_http_spark.operators.curation import tokenize

    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id", tokenize(F.col("text")).alias("__toks")
    ).select(
        "doc_id",
        F.size("__toks").cast("long").alias("n_tokens"),
        score_tokens(F.col("__toks")).alias("quality_score"),
    )
    return staged.select(
        "doc_id",
        "n_tokens",
        "quality_score",
        (F.col("quality_score") >= 0).alias("keep"),
    )


@query(
    "q_lm_perplexity",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                          ' ') AS t
      FROM documents
    ),
    ix AS (
      SELECT doc_id, t, unnest(range(1, len(t))) AS i
      FROM tok WHERE len(t) >= 2
    ),
    bg AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM ix),
    uni AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
    bi AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
    v AS (
      SELECT COUNT(DISTINCT w) AS v
      FROM (SELECT unnest(t) AS w FROM tok)
    ),
    score AS (
      SELECT g.doc_id,
             ln(CAST(COALESCE(b.c12, 0) + 1 AS DOUBLE)
                / CAST(COALESCE(u.c1, 0) + v.v AS DOUBLE)) AS lp
      FROM bg g
      LEFT JOIN bi b USING (w1, w2)
      LEFT JOIN uni u USING (w1)
      CROSS JOIN v
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           round(SUM(lp) / COUNT(*), 6) AS avg_logp
    FROM score GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM quality scoring (operators/lm.py): train add-one-
    smoothed bigram counts on the corpus (two map-combinable hash aggs;
    the model stays DISTRIBUTED — no driver collect, no broadcast of
    the vocab-squared table), then score every document by mean
    ln P(w2|w1) through two by-key joins + one per-doc agg — the CCNet/
    GPT-3 LM-perplexity gate as pure DataFrame ops.

    Engine parity: every ln argument is a ratio of exact integer counts
    (identical in both engines); 6-dp round on the mean absorbs libm ln
    ulps (the q_char_entropy argument)."""
    from mysql_cdc_to_http_spark.operators.lm import (
        score_perplexity,
        train_bigram_lm,
    )

    docs = load_table(spark, sf_dir, "documents")
    uni, bi, vocab = train_bigram_lm(docs)
    return score_perplexity(docs, uni, bi, vocab)


# --------------------------------------------------------------------------
# C4 heuristic page cleaning (planted-fixture oracle, the q_pii_redact
# pattern: the synthetic corpus is single-line clean text, so both
# engines build an identical multi-line page with rule-triggering lines
# derived from doc_id, then clean it — the CLEANING is what the oracle
# checks, not the fixture)
# --------------------------------------------------------------------------
_C4_SPARK = (
    "concat(text, '.',"
    " case when doc_id % 3 = 0 then '\nclick here to continue' else '' end,"
    " case when doc_id % 4 = 0 then"
    "   '\nenable JavaScript to view this page.' else '' end,"
    " case when doc_id % 5 = 0 then"
    "   '\nfunction() { return 1; }' else '' end,"
    " case when doc_id % 7 = 0 then '\nok.' else '' end,"
    " case when doc_id % 11 = 0 then"
    "   '\nlorem ipsum dolor sit amet.' else '' end)"
)
_C4_DUCK = (
    "text || '.'"
    " || CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'click here to continue'"
    "    ELSE '' END"
    " || CASE WHEN doc_id % 4 = 0 THEN chr(10) ||"
    "    'enable JavaScript to view this page.' ELSE '' END"
    " || CASE WHEN doc_id % 5 = 0 THEN chr(10) ||"
    "    'function() { return 1; }' ELSE '' END"
    " || CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'ok.' ELSE '' END"
    " || CASE WHEN doc_id % 11 = 0 THEN chr(10) ||"
    "    'lorem ipsum dolor sit amet.' ELSE '' END"
)


@query(
    "q_c4_clean",
    oracle=f"""
    WITH aug AS (SELECT doc_id, {_C4_DUCK} AS page FROM documents),
    split AS (
      SELECT doc_id, page, string_split(page, chr(10)) AS lines,
             contains(lower(page), 'lorem ipsum') AS page_dropped
      FROM aug
    ),
    cleaned AS (
      SELECT doc_id,
             len(lines) AS n_lines,
             list_filter(lines, l ->
               regexp_matches(l, '[.!?]"?$')
               AND len(string_split(l, ' ')) >= 3
               AND NOT contains(l, '{{')
               AND NOT contains(lower(l), 'javascript')) AS kept,
             page_dropped
      FROM split
    )
    SELECT doc_id, CAST(n_lines AS INT) AS n_lines,
           CAST(len(kept) AS INT) AS n_kept, page_dropped,
           md5(CASE WHEN page_dropped THEN ''
                    ELSE array_to_string(kept, chr(10)) END) AS clean_md5
    FROM cleaned ORDER BY doc_id
    """,
)
def q_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style heuristic page cleaning (operators/text.py:
    c4_clean_page): terminal-punctuation / ≥3-words / no-brace /
    no-javascript line retention plus whole-page 'lorem ipsum' drop —
    the Raffel et al. 2020 filter chain that precedes every other
    curation pass. Planted multi-line fixtures (deterministic per
    doc_id, the q_pii_redact discipline) make every rule fire on a
    known subset; all outputs derive from one split in one codegen
    projection — zero shuffle, zero Python. Parity: pure string
    predicates and md5 of the rebuilt page — exact."""
    from mysql_cdc_to_http_spark.operators.text import c4_clean_page

    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select("doc_id", F.expr(_C4_SPARK).alias("page"))
    n_lines, n_kept, dropped, clean = c4_clean_page(F.col("page"))
    return aug.select(
        "doc_id",
        n_lines.alias("n_lines"),
        n_kept.alias("n_kept"),
        dropped.alias("page_dropped"),
        F.md5(clean).alias("clean_md5"),
    )


# --------------------------------------------------------------------------
# X129 — URL canonicalization + canonical dedup (web-crawl curation:
# the same page arrives under scheme/case/tracking-param/fragment
# variants; dedup must key on the canonical form). URLs are
# deterministic fixtures built from doc_id (PII-fixture discipline —
# both engines construct the identical raw strings).
# --------------------------------------------------------------------------
_URL_SPARK = (
    "concat('HTTPS://WWW.Example', CAST(doc_id % 20 AS STRING),"
    " '.COM:443/Path', CAST(doc_id % 97 AS STRING),"
    " CASE WHEN doc_id % 3 = 0"
    "   THEN concat('/?utm_source=feed&b=2&a=', CAST(doc_id % 50 AS STRING))"
    " WHEN doc_id % 3 = 1"
    "   THEN concat('?a=', CAST(doc_id % 50 AS STRING), '&utm_medium=em&b=2')"
    " ELSE concat('?b=2&a=', CAST(doc_id % 50 AS STRING)) END,"
    " CASE WHEN doc_id % 5 = 0 THEN '#section-3' ELSE '' END)"
)

_URL_DUCK = (
    "concat('HTTPS://WWW.Example', CAST(doc_id % 20 AS VARCHAR),"
    " '.COM:443/Path', CAST(doc_id % 97 AS VARCHAR),"
    " CASE WHEN doc_id % 3 = 0"
    "   THEN concat('/?utm_source=feed&b=2&a=', CAST(doc_id % 50 AS VARCHAR))"
    " WHEN doc_id % 3 = 1"
    "   THEN concat('?a=', CAST(doc_id % 50 AS VARCHAR), '&utm_medium=em&b=2')"
    " ELSE concat('?b=2&a=', CAST(doc_id % 50 AS VARCHAR)) END,"
    " CASE WHEN doc_id % 5 = 0 THEN '#section-3' ELSE '' END)"
)


@query(
    "q_url_canonical",
    oracle=f"""
    WITH raw AS (SELECT doc_id, {_URL_DUCK} AS url FROM documents),
    defrag AS (
      SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM raw
    ),
    parts AS (
      SELECT doc_id,
             lower(regexp_extract(u, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))
               AS scheme,
             regexp_replace(regexp_replace(
               lower(regexp_extract(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?]+)',
                                    1)), ':(443|80)$', ''), '^www\\.', '')
               AS host,
             regexp_replace(
               regexp_extract(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*([^?]*)',
                              1), '/+$', '') AS path,
             CASE WHEN contains(u, '?')
                  THEN regexp_extract(u, '\\?(.*)$', 1) ELSE '' END AS qs
      FROM defrag
    ),
    canon AS (
      SELECT doc_id, host,
             concat(scheme, '://', host, path,
               CASE WHEN length(kept) > 0 THEN concat('?', kept)
                    ELSE '' END) AS canonical_url
      FROM (
        SELECT doc_id, scheme, host, path,
               array_to_string(
                 list_sort(list_filter(string_split(qs, '&'),
                                       x -> x NOT LIKE 'utm_%')), '&') AS kept
        FROM parts
      )
    )
    SELECT host,
           CAST(count(*) AS BIGINT) AS n_urls,
           CAST(count(DISTINCT canonical_url) AS BIGINT) AS n_canonical,
           min(canonical_url) AS sample_canonical
    FROM canon GROUP BY host ORDER BY host
    """,
)
def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalize crawl URLs and count collapsed duplicates per host.

    Canonicalization: strip fragment → lowercase scheme and host →
    drop default ports (:443/:80) and a leading www. → strip trailing
    path slashes → drop utm_* tracking params and SORT the survivors
    (param order is not page identity). Every step is a JVM
    regexp/HOF projection — ``split → filter → array_sort →
    array_join`` for the query string — zero shuffles before the final
    per-host aggregate; at 100 TB this runs at scan speed, and the
    dedup itself is the usual hash agg on the canonical key. The
    DuckDB oracle mirrors each step with its list functions
    (string_split/list_filter/list_sort), so parity certifies the
    canonical FORM, not just counts."""
    docs = load_table(spark, sf_dir, "documents")
    raw = docs.select("doc_id", F.expr(_URL_SPARK).alias("url"))
    u = F.regexp_replace(F.col("url"), r"#.*$", "")
    defrag = raw.select("doc_id", u.alias("u"))
    scheme = F.lower(
        F.regexp_extract(F.col("u"), r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1)
    )
    host = F.regexp_replace(
        F.regexp_replace(
            F.lower(
                F.regexp_extract(
                    F.col("u"), r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?]+)", 1
                )
            ),
            r":(443|80)$",
            "",
        ),
        r"^www\.",
        "",
    )
    path = F.regexp_replace(
        F.regexp_extract(
            F.col("u"), r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*([^?]*)", 1
        ),
        r"/+$",
        "",
    )
    qs = F.when(
        F.col("u").contains("?"),
        F.regexp_extract(F.col("u"), r"\?(.*)$", 1),
    ).otherwise("")
    parts = defrag.select(
        "doc_id",
        scheme.alias("scheme"),
        host.alias("host"),
        path.alias("path"),
        qs.alias("qs"),
    )
    kept = F.array_join(
        F.array_sort(
            F.filter(
                F.split(F.col("qs"), "&"),
                lambda x: ~x.startswith("utm_"),
            )
        ),
        "&",
    )
    canon = parts.select(
        "host",
        F.concat(
            F.col("scheme"),
            F.lit("://"),
            F.col("host"),
            F.col("path"),
            F.when(
                F.length(kept) > 0, F.concat(F.lit("?"), kept)
            ).otherwise(""),
        ).alias("canonical_url"),
    )
    return (
        canon.groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct("canonical_url").alias("n_canonical"),
            F.min("canonical_url").alias("sample_canonical"),
        )
        .orderBy("host")
    )


# --------------------------------------------------------------------------
# X145 — right-to-be-forgotten cascade audit: a deterministic deletion
# cohort propagated through the FK graph (customer → orders → lineitem,
# plus the events feed), with per-table purge/keep counts — the
# compliance pass a CDC pipeline runs before rewriting tables.
# --------------------------------------------------------------------------
@query(
    "q_forget_audit",
    oracle="""
    WITH forget AS (
      SELECT c_custkey FROM customer
      WHERE ('0x' || substr(md5('forget-v1|' || CAST(c_custkey AS VARCHAR)),
                            1, 6))::BIGINT % 100 < 2
    ),
    o_purge AS (
      SELECT o_orderkey FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM forget)
    )
    SELECT 'customer' AS tbl,
           CAST((SELECT count(*) FROM forget) AS BIGINT) AS n_purged,
           CAST((SELECT count(*) FROM customer) -
                (SELECT count(*) FROM forget) AS BIGINT) AS n_kept
    UNION ALL
    SELECT 'orders',
           CAST((SELECT count(*) FROM o_purge) AS BIGINT),
           CAST((SELECT count(*) FROM orders) -
                (SELECT count(*) FROM o_purge) AS BIGINT)
    UNION ALL
    SELECT 'lineitem',
           CAST((SELECT count(*) FROM lineitem
                 WHERE l_orderkey IN (SELECT o_orderkey FROM o_purge))
                AS BIGINT),
           CAST((SELECT count(*) FROM lineitem
                 WHERE l_orderkey NOT IN (SELECT o_orderkey FROM o_purge))
                AS BIGINT)
    UNION ALL
    SELECT 'events',
           CAST((SELECT count(*) FROM events
                 WHERE user_id IN (SELECT c_custkey FROM forget))
                AS BIGINT),
           CAST((SELECT count(*) FROM events
                 WHERE user_id NOT IN (SELECT c_custkey FROM forget))
                AS BIGINT)
    ORDER BY tbl
    """,
)
def q_forget_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-table purge/keep counts for a 2% deletion cohort cascaded
    through the FK graph.

    The cohort is md5-deterministic (split_bucket discipline — an
    auditor reproduces the exact member set in any engine). Scale
    shape: the cohort and its derived order-key list are tail-sized
    key sets — each table is audited with ONE left_semi/left_anti pair
    against a broadcast key list (no fact-side reshuffle, the
    q_agg_q18 semi-join discipline); the cascade (customer → orders →
    lineitem) chains two such key-list derivations. The same semi/anti
    split IS the rewrite plan: writing the anti side with
    operators/layout.py is the actual purge, so the audit counts are
    exactly what the rewrite would keep."""
    from mysql_cdc_to_http_spark.operators.sampling import split_bucket

    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    forget = cust.filter(
        split_bucket(F.col("c_custkey"), 100, salt="forget-v1") < 2
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    o_purge = orders.join(
        F.broadcast(forget),
        F.col("o_custkey") == F.col("c_custkey"),
        "left_semi",
    ).select("o_orderkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    ev = load_table(spark, sf_dir, "events").select("user_id")

    def audit(name, df, key, keys_df, keys_col):
        # r16 (guide §2.4): semi + anti as TWO joins scanned each fact
        # table twice (and built each broadcast key list twice — the
        # lineitem audit's list is itself a join; measured plan: 18
        # scans for 4 tables). Every key list here is DISTINCT by
        # construction (c_custkey unique; o_orderkey unique, semi of a
        # unique key), so one left join with a hit marker splits the
        # same two counts in ONE pass per table — semi == matched,
        # anti == unmatched, row-for-row.
        cond = F.col(key) == F.col(keys_col)
        flagged = df.join(
            F.broadcast(keys_df.withColumn("__hit", F.lit(1))),
            cond,
            "left",
        )
        return flagged.agg(
            F.count("__hit").alias("n_purged"),
            (F.count(F.lit(1)) - F.count("__hit")).alias("n_kept"),
        ).select(F.lit(name).alias("tbl"), "n_purged", "n_kept")

    out = (
        audit("customer", cust, "c_custkey", forget.select(
            F.col("c_custkey").alias("fk")), "fk")
        .unionAll(
            audit("orders", orders.select("o_custkey"), "o_custkey",
                  forget.select(F.col("c_custkey").alias("fk")), "fk")
        )
        .unionAll(
            audit("lineitem", li, "l_orderkey",
                  o_purge.select(F.col("o_orderkey").alias("fk")), "fk")
        )
        .unionAll(
            audit("events", ev, "user_id",
                  forget.select(F.col("c_custkey").alias("fk")), "fk")
        )
    )
    return out.orderBy("tbl")


# --------------------------------------------------------------------------
# X223 — Gopher-style document-level quality rules (Rae et al. 2021,
# appendix A1, word-level subset). The heuristic gate that sits BEFORE
# the model-based classifier (X98) in a pretraining recipe: cheap,
# interpretable, and a pure projection. Line-level rules (bullets,
# terminal punctuation, boilerplate) live in the C4 pass (X117) and the
# CCNet line dedup (X85); the repetition rule family is X51 — this
# operator is the word-statistics subset, kept disjoint on purpose.
# All ratios are integer micro-units via truncated division of
# non-negative integers (Spark `div` == DuckDB `//` there), so the
# gate booleans are hash-exact cross-engine.
# --------------------------------------------------------------------------
# The published rule counts hits from an English stopword list; the
# list is a knob (Gopher's own is "required word" style). The synthetic
# corpus's function words stand in here so the >=2 threshold actually
# discriminates (the English list intersects this vocabulary only at
# {'the','a'}, which would collapse the rule to a constant).
_GOPHER_STOPS = ("the", "a", "data", "spark", "query", "join", "scan", "merge")


@query(
    "q_gopher_rules",
    oracle=f"""
    WITH {_TOK_CTE},
    m AS (
      SELECT doc_id,
             CAST(len(t) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(t, w -> length(w)))
                  AS BIGINT) AS sum_len,
             CAST(len(list_filter(t, w -> regexp_matches(w, '[a-z]')))
                  AS BIGINT) AS alpha_cnt,
             CAST(len(list_filter(
                    ['the','a','data','spark','query','join','scan','merge'],
                    s -> list_contains(t, s))) AS BIGINT) AS stop_hits,
             CAST(length(d.text) - length(replace(d.text, '#', ''))
                  AS BIGINT)
             + CAST((length(d.text) - length(replace(d.text, '...', '')))
                    // 3 AS BIGINT) AS sym_cnt
      FROM tok JOIN documents d USING (doc_id)
    )
    SELECT doc_id, n_words,
           (sum_len * 1000000) // n_words   AS mean_word_len_micro,
           (alpha_cnt * 1000000) // n_words AS alpha_frac_micro,
           stop_hits,
           (sym_cnt * 1000000) // n_words   AS symbol_ratio_micro,
           (n_words BETWEEN 50 AND 100000
            AND (sum_len * 1000000) // n_words
                BETWEEN 3000000 AND 10000000
            AND (alpha_cnt * 1000000) // n_words >= 800000
            AND stop_hits >= 2
            AND (sym_cnt * 1000000) // n_words <= 100000) AS gopher_pass
    FROM m
    ORDER BY doc_id
    """,
)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality rules (X223): per-document word statistics and the
    conjunctive pass/fail gate — word count in [50, 100k], mean word
    length in [3, 10], >=80% alphabetic words, >=2 distinct stopwords,
    symbol-to-word ratio (# and ...) <= 0.1.

    Scale: one codegen projection over the corpus (higher-order array
    functions, no UDF, no shuffle besides the output sort) — the same
    shape as X117's C4 cleaner; at 100 TB this is scan-bound.

    Exactness: every statistic is an integer count; every ratio is a
    truncated integer division of non-negatives, where Spark's `div`
    and DuckDB's `//` agree, so the micro-unit columns and the gate
    boolean hash-match exactly."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    stops = F.array(*[F.lit(s) for s in _GOPHER_STOPS])
    m = docs.select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        F.aggregate(
            words,
            F.lit(0).cast("long"),
            lambda acc, w: acc + F.length(w).cast("long"),
        ).alias("sum_len"),
        F.size(F.filter(words, lambda w: w.rlike("[a-z]")))
        .cast("long")
        .alias("alpha_cnt"),
        F.size(F.filter(stops, lambda s: F.array_contains(words, s)))
        .cast("long")
        .alias("stop_hits"),
        (
            (F.length("text") - F.length(F.expr("replace(text, '#')")))
            + (
                (F.length("text") - F.length(F.expr("replace(text, '...')")))
                / F.lit(3)
            ).cast("long")
        )
        .cast("long")
        .alias("sym_cnt"),
    )
    return (
        m.select(
            "doc_id",
            "n_words",
            F.expr("(sum_len * 1000000) div n_words").alias(
                "mean_word_len_micro"
            ),
            F.expr("(alpha_cnt * 1000000) div n_words").alias(
                "alpha_frac_micro"
            ),
            "stop_hits",
            F.expr("(sym_cnt * 1000000) div n_words").alias(
                "symbol_ratio_micro"
            ),
        )
        .withColumn(
            "gopher_pass",
            F.col("n_words").between(50, 100000)
            & F.col("mean_word_len_micro").between(3000000, 10000000)
            & (F.col("alpha_frac_micro") >= 800000)
            & (F.col("stop_hits") >= 2)
            & (F.col("symbol_ratio_micro") <= 100000),
        )
        
    )


# --------------------------------------------------------------------------
# X224 — Winnowing document fingerprinting (Schleimer, Wilkerson &
# Aiken 2003 — the MOSS algorithm). The guarantee-bearing rung of the
# dedup ladder between SimHash banding (X42/X76, probabilistic) and
# exact-substring spans (X110, exhaustive): selecting the MINIMUM
# k-gram hash in every sliding window of w positions guarantees any
# shared run of >= k+w-1 words produces at least one shared
# fingerprint, at ~2/(w+1) storage density. k=4, w=4 here: runs of 7+
# words are always caught.
#
# Cross-engine exactness: the "hash" is the first 16 hex chars of
# md5(gram), and the window tie-break is folded into the ordering key
# itself — key = hash || lpad(ordinal, 8, '0'), so min(key) is
# (min hash, then leftmost ordinal) on both engines with plain binary
# string comparison. Deterministic leftmost-min winnowing.
# --------------------------------------------------------------------------
@query(
    "q_winnow_fingerprints",
    oracle=f"""
    WITH {_TOK_CTE},
    grams AS (
      SELECT doc_id,
             unnest(list_transform(
               range(1, greatest(len(t) - 3, 1) + 1),
               i -> struct_pack(i := i,
                                g := array_to_string(t[i:i+3], ' ')))) AS s
      FROM tok
    ),
    keyed AS (
      SELECT doc_id, CAST(s.i AS BIGINT) AS i,
             substring(md5(s.g), 1, 16)
               || lpad(CAST(s.i AS VARCHAR), 8, '0') AS key
      FROM grams
    ),
    win AS (
      SELECT doc_id, i,
             count(*) OVER (PARTITION BY doc_id) AS ng,
             min(key) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
               AS wmin
      FROM keyed
    ),
    fps AS (
      SELECT DISTINCT doc_id, substring(wmin, 1, 16) AS fp
      FROM win WHERE i >= least(4, ng)
    ),
    cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp
            FROM fps GROUP BY doc_id),
    freq AS (
      SELECT fp FROM (
        SELECT fp, count(*) AS c FROM fps GROUP BY fp
      ) WHERE c <= 50
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS shared_fps
      FROM fps a
      JOIN freq USING (fp)
      JOIN fps b USING (fp)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, shared_fps,
           ca.n_fp AS n_fp_a, cb.n_fp AS n_fp_b
    FROM pairs
    JOIN cnt ca ON ca.doc_id = doc_a
    JOIN cnt cb ON cb.doc_id = doc_b
    WHERE shared_fps >= 2
    ORDER BY doc_a, doc_b
    """,
)
def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint match report (X224): candidate
    near-duplicate pairs sharing >= 2 selected fingerprints, with each
    side's fingerprint count for containment-style normalization
    downstream.

    Scale: fingerprints are a ~2/(w+1) = 40% sample of k-gram hashes,
    and only (doc_id, 16-char fp) pairs ever shuffle — never text. The
    pair join is fingerprint-bucketed with a doc-frequency cap (fp in
    > 50 docs dropped as a stop-gram, the same skew guard as the LSH
    bucket caps), so candidates are bucket-local, never
    corpus-quadratic. The window min is a per-doc sliding frame — one
    hash-partition exchange on doc_id.

    Guarantee (the reason this rung exists): any shared word run of
    length >= k+w-1 = 7 yields a shared fingerprint — a recall floor
    the probabilistic arms (MinHash/SimHash) cannot promise."""
    from mysql_cdc_to_http_spark.operators.text import winnow_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    fps = winnow_fingerprints(docs, k=4, w=4)
    cnt = fps.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    freq = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") <= 50)
        .select("fp")
    )
    a = fps.join(freq, "fp")
    b = fps.select(
        F.col("doc_id").alias("doc_b_id"), F.col("fp").alias("fp_b")
    )
    pairs = (
        a.join(
            b,
            (F.col("fp") == F.col("fp_b"))
            & (F.col("doc_id") < F.col("doc_b_id")),
        )
        .groupBy(
            F.col("doc_id").alias("doc_a"),
            F.col("doc_b_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
        .filter(F.col("shared_fps") >= 2)
    )
    return (
        pairs.join(
            cnt.select(
                F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("n_fp_a")
            ),
            "doc_a",
        )
        .join(
            cnt.select(
                F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("n_fp_b")
            ),
            "doc_b",
        )
        .select("doc_a", "doc_b", "shared_fps", "n_fp_a", "n_fp_b")
    )


# --------------------------------------------------------------------------
# X225 — UniMax-style budget-constrained corpus mixing (Chung et al.
# 2023): allocate a total token budget across language corpora with a
# per-language epoch cap — low-resource languages get their full cap
# (upsampled to E epochs), the high-resource head splits what remains
# evenly (downsampled below one epoch if the budget demands it). The
# closed form is waterfilling over languages sorted ascending by size;
# the capped set is a PREFIX of that order, so one pass of window
# functions finds it — no iteration.
#
# Cross-engine exactness: the capped test is cross-multiplied
# (E·c_k·(n−k+1) ≤ B − E·cum_{k−1} — never a division), the water level
# is a single non-negative integer division with its remainder dealt
# out one token each to the first `rem` uncapped languages in sort
# order, so Σ alloc == B EXACTLY and every column hashes identically.
# --------------------------------------------------------------------------
_UNIMAX_E = 2  # epoch cap per language
# budget = 1.5 × corpus tokens: binding (< E×total), so the largest
# language lands uncapped at every sf while the tail hits its cap.


@query(
    "q_unimax_budget",
    oracle=r"""
    WITH toklang AS (
      SELECT lang,
             CAST(SUM(len(string_split(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
               ' '))) AS BIGINT) AS c
      FROM documents GROUP BY lang
    ),
    ranked AS (
      SELECT lang, c,
             CAST(row_number() OVER w AS BIGINT) AS k,
             CAST(SUM(c) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS cum,
             CAST(COUNT(*) OVER () AS BIGINT) AS n,
             CAST(SUM(c) OVER () AS BIGINT) AS total
      FROM toklang
      WINDOW w AS (ORDER BY c, lang)
    ),
    capped AS (
      SELECT *, (total * 3) // 2 AS b,
             2 * c * (n - k + 1) <= (total * 3) // 2 - 2 * (cum - c)
               AS is_capped
      FROM ranked
    ),
    leveled AS (
      SELECT *,
             CAST(SUM(CASE WHEN is_capped THEN 1 ELSE 0 END) OVER ()
                  AS BIGINT) AS kk,
             CAST(COALESCE(SUM(CASE WHEN is_capped THEN c END) OVER (), 0)
                  AS BIGINT) AS cumk,
             CAST(SUM(CASE WHEN is_capped THEN 0 ELSE 1 END)
                  OVER (ORDER BY c, lang ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS BIGINT) AS urank
      FROM capped
    )
    SELECT lang, c AS tokens, k AS size_rank, is_capped,
           CAST(CASE WHEN is_capped THEN 2 * c
                WHEN kk < n THEN (b - 2 * cumk) // (n - kk)
                  + (CASE WHEN urank <= (b - 2 * cumk) % (n - kk)
                          THEN 1 ELSE 0 END)
                ELSE 0 END AS BIGINT) AS alloc_tokens,
           CAST(CASE WHEN is_capped THEN 2 * c
                WHEN kk < n THEN (b - 2 * cumk) // (n - kk)
                  + (CASE WHEN urank <= (b - 2 * cumk) % (n - kk)
                          THEN 1 ELSE 0 END)
                ELSE 0 END * 1000000 // c AS BIGINT) AS epochs_micro
    FROM leveled
    ORDER BY lang
    """,
)
def q_unimax_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax budget allocation (X225): per-language token counts →
    epoch-capped waterfill of a 1.5×-corpus token budget. Languages
    small enough that granting them E=2 epochs still leaves a fair
    share for everyone larger are CAPPED at 2×tokens; the rest split
    the remaining budget evenly (the water level), remainder dealt one
    token apiece in size order so the allocations sum to the budget
    exactly. On this corpus English is ~3× any other language, so every
    sf yields the canonical UniMax picture: the tail upsampled to 2
    epochs, the head downsampled below 1 (epochs_micro < 1000000).

    Exactness: capped test cross-multiplied (no division); one integer
    division total (the water level) plus an exact remainder deal-out —
    Σ alloc_tokens == budget is asserted in tests. Window order (c,
    lang) is unique, and every running sum pins ROWS framing so RANGE
    defaults can't differ between engines.

    Scale shape: the fact-sized work is ONE scan of documents into a
    per-language token-count aggregate (map-side partial sums of a
    codegen'd split-length projection — no explode); everything after
    operates on the LANGUAGE table (≤ thousands of rows for any real
    corpus), where the global window is a deliberate singleton — the
    model-sized-driver-table discipline, same as the k-means/k-center
    model steps. At 100 TB the allocation itself then drives
    deterministic md5 downsampling per language (X62's sampler) with
    rate = alloc/tokens."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    dom = docs.select("lang", F.size(toks).alias("nt")).groupBy("lang").agg(
        F.sum("nt").cast("long").alias("c")
    )
    w = Window.orderBy("c", "lang")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy()
    ranked = dom.select(
        "lang",
        "c",
        F.row_number().over(w).cast("long").alias("k"),
        F.sum("c").over(w_run).cast("long").alias("cum"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n"),
        F.sum("c").over(w_all).cast("long").alias("total"),
    )
    e = _UNIMAX_E
    capped = ranked.select(
        "*",
        F.expr("(total * 3) div 2").alias("b"),
        F.expr(
            f"{e} * c * (n - k + 1) <= (total * 3) div 2 - {e} * (cum - c)"
        ).alias("is_capped"),
    )
    leveled = capped.select(
        "*",
        F.sum(F.when(F.col("is_capped"), 1).otherwise(0))
        .over(w_all)
        .cast("long")
        .alias("kk"),
        F.coalesce(
            F.sum(F.when(F.col("is_capped"), F.col("c"))).over(w_all),
            F.lit(0),
        )
        .cast("long")
        .alias("cumk"),
        F.sum(F.when(F.col("is_capped"), 0).otherwise(1))
        .over(w_run)
        .cast("long")
        .alias("urank"),
    )
    alloc_sql = (
        f"CASE WHEN is_capped THEN {e} * c"
        f" WHEN kk < n THEN (b - {e} * cumk) div (n - kk)"
        f"  + (CASE WHEN urank <= (b - {e} * cumk) % (n - kk)"
        f"     THEN 1 ELSE 0 END)"
        f" ELSE 0 END"
    )
    return leveled.select(
        "lang",
        F.col("c").alias("tokens"),
        F.col("k").alias("size_rank"),
        "is_capped",
        F.expr(f"CAST(({alloc_sql}) AS BIGINT)").alias("alloc_tokens"),
        F.expr(f"CAST(({alloc_sql}) * 1000000 div c AS BIGINT)").alias(
            "epochs_micro"
        ),
    ).orderBy("lang")


# --------------------------------------------------------------------------
# X229 — DSIR importance-resampling data selection (Xie et al. 2023):
# score every document by the log-likelihood ratio of two hashed-bigram
# unigram LMs — the English slice as target vs the full raw pool — and
# gate on score > 0. The trained-classifier-free data-selection rung
# next to X98 (model gate) and X223 (rule gate).
# --------------------------------------------------------------------------
_DSIR_B = 256


@query(
    "q_dsir_select",
    oracle=rf"""
    WITH tokl AS (
      SELECT doc_id, lang,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                          ' ') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t,
             unnest(list_transform(
               range(1, greatest(len(t) - 1, 1) + 1),
               i -> ('0x' || substr(md5(array_to_string(t[i:i+1], ' ')),
                                    1, 15))::BIGINT % {_DSIR_B})) AS b
      FROM tokl
    ),
    doc_counts AS (
      SELECT doc_id, b, max(is_t) AS is_t, count(*) AS c
      FROM grams GROUP BY 1, 2
    ),
    lm_t AS (SELECT b, count(*) AS n_t FROM grams WHERE is_t = 1 GROUP BY b),
    lm_s AS (SELECT b, count(*) AS n_s FROM grams GROUP BY b),
    tot AS (SELECT (SELECT sum(n_t) FROM lm_t) AS nt,
                   (SELECT sum(n_s) FROM lm_s) AS ns),
    sc AS (
      SELECT d.doc_id,
             CAST(SUM(d.c) AS BIGINT) AS n_grams,
             SUM(d.c * (ln(COALESCE(l.n_t, 0) + 1)
                        - ln(COALESCE(s.n_s, 0) + 1)))
               + SUM(d.c) * (ln(t.ns + {_DSIR_B}) - ln(t.nt + {_DSIR_B}))
               AS raw
      FROM doc_counts d
      LEFT JOIN lm_t l USING (b)
      LEFT JOIN lm_s s USING (b), tot t
      GROUP BY d.doc_id, t.nt, t.ns
    )
    SELECT doc_id, n_grams, round(raw, 6) AS score,
           CAST(CASE WHEN round(raw, 6) > 0 THEN 1 ELSE 0 END AS INT)
             AS selected
    FROM sc ORDER BY doc_id
    """,
)
def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X229 — DSIR importance resampling
    (operators/curation.py:dsir_scores): per-document log-likelihood
    ratio between an add-one-smoothed hashed-bigram LM of the TARGET
    slice (lang='en' — the reference distribution) and one of the full
    raw pool; ``selected`` gates on ratio > 0, i.e. "more target-like
    than pool-like". This is the published classifier-free data
    selection recipe for steering a pretraining mix toward a reference
    corpus; the hashing trick (md5(bigram) % 256) caps both models at
    256 rows regardless of vocabulary, so they broadcast and the
    fact-sized work is one (doc, bucket) aggregate + one per-doc sum.

    Engine parity: every ln argument is an exact integer; the 6-dp
    round absorbs libm ulps (q_char_entropy rule); the selection flag
    derives from the ROUNDED score so both engines gate identically.
    Verified green at sf0.001/0.01/0.1."""
    from mysql_cdc_to_http_spark.operators.curation import dsir_scores

    docs = load_table(spark, sf_dir, "documents")
    return dsir_scores(
        docs, F.col("lang") == "en", n_buckets=_DSIR_B
    )


# --------------------------------------------------------------------------
# X230 — temperature-scaled multilingual mixing (Arivazhagan et al.
# 2019; the T5/mT5 sampling rule): resample the corpus with language
# probabilities p_l ∝ (n_l/N)^(1/τ). τ=2 (exponent 1/2) is chosen
# deliberately: IEEE-754 sqrt is CORRECTLY ROUNDED, so both engines
# compute bit-identical weights with no rounding heuristics — the
# whole allocation is then integer arithmetic (largest-remainder
# apportionment), engine-exact end to end. The smooth companion to
# X225's hard epoch cap: UniMax clips, temperature tilts.
# --------------------------------------------------------------------------
_TMIX_SCALE = 10_000_000_000  # weight = floor(sqrt(c*SCALE div N)) ~ 1e5*sqrt(share)


@query(
    "q_temperature_mix",
    oracle=rf"""
    WITH dom AS (
      SELECT lang,
             CAST(SUM(len(string_split(trim(regexp_replace(lower(text),
                  '\s+', ' ', 'g')), ' '))) AS BIGINT) AS c
      FROM documents GROUP BY lang
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM dom),
    wtd AS (
      SELECT lang, c, total,
             CAST(floor(sqrt(CAST((c * {_TMIX_SCALE}) // total AS DOUBLE)))
                  AS BIGINT) AS wi
      FROM dom, tot
    ),
    wsum AS (SELECT CAST(SUM(wi) AS BIGINT) AS w FROM wtd),
    base AS (
      SELECT lang, c, total, wi, w,
             CAST((total * wi) // w AS BIGINT) AS alloc0,
             CAST((total * wi) % w AS BIGINT) AS r
      FROM wtd, wsum
    ),
    dealt AS (
      SELECT *,
             row_number() OVER (ORDER BY r DESC, lang) AS dr,
             CAST(total - SUM(alloc0) OVER () AS BIGINT) AS rem
      FROM base
    )
    SELECT lang, c AS tokens, wi AS weight,
           CAST(wi * 1000000 // w AS BIGINT) AS share_micro,
           CAST(alloc0 + CASE WHEN dr <= rem THEN 1 ELSE 0 END AS BIGINT)
             AS alloc_tokens,
           CAST((alloc0 + CASE WHEN dr <= rem THEN 1 ELSE 0 END) * 1000000
                // c AS BIGINT) AS epochs_micro
    FROM dealt ORDER BY lang
    """,
)
def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X230 — temperature-scaled mixing at τ=2: per-language allocation
    of an N-token resampling budget with p_l ∝ sqrt(n_l/N) — the
    T5/mT5 recipe that upsamples tail languages and downsamples the
    head WITHOUT a hard cap (X225's UniMax is the clipped alternative;
    both emit the same schema shape so a pipeline can A/B them).

    Exactness: integer weight = floor(sqrt(c·SCALE div N)) — the inner
    division is integer (identical truncation both engines) and IEEE
    sqrt is correctly rounded, so the weights are bit-identical with
    NO 6-dp absorb needed; allocation is largest-remainder
    apportionment ((N·w_l) div W + remainder dealt by (remainder desc,
    lang)) — Σ alloc == N exactly, pinned in tests. SCALE=1e10 keeps
    c·SCALE inside BIGINT for corpora to ~9·10⁸ tokens per language;
    at 100 TB lift the product into DECIMAL(38,0) — same plan.

    Scale shape: one scan of documents into per-language token counts
    (map-side partial sums of a codegen split-length projection, no
    explode); everything after runs on the language table where the
    global window is a deliberate singleton (the model-sized table
    discipline, shared with X225). The allocation then drives per-
    language deterministic md5 sampling (X62) with rate
    alloc/tokens."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    dom = docs.select("lang", F.size(toks).alias("nt")).groupBy("lang").agg(
        F.sum("nt").cast("long").alias("c")
    )
    w_all = Window.partitionBy()
    wtd = dom.select(
        "lang",
        "c",
        F.sum("c").over(w_all).cast("long").alias("total"),
    ).select(
        "*",
        F.floor(
            F.sqrt(F.expr(f"CAST((c * {_TMIX_SCALE}) div total AS DOUBLE)"))
        )
        .cast("long")
        .alias("wi"),
    )
    base = wtd.select(
        "*",
        F.sum("wi").over(w_all).cast("long").alias("w"),
    ).select(
        "*",
        F.expr("(total * wi) div w").cast("long").alias("alloc0"),
        F.expr("(total * wi) % w").cast("long").alias("r"),
    )
    dealt = base.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.col("r").desc(), "lang"))
        .cast("long")
        .alias("dr"),
        (F.col("total") - F.sum("alloc0").over(w_all)).cast("long").alias(
            "rem"
        ),
    )
    alloc = F.col("alloc0") + F.when(
        F.col("dr") <= F.col("rem"), 1
    ).otherwise(0)
    return dealt.select(
        "lang",
        F.col("c").alias("tokens"),
        F.col("wi").alias("weight"),
        F.expr("wi * 1000000 div w").cast("long").alias("share_micro"),
        alloc.cast("long").alias("alloc_tokens"),
        F.expr(
            "(alloc0 + CASE WHEN dr <= rem THEN 1 ELSE 0 END) * 1000000"
            " div c"
        )
        .cast("long")
        .alias("epochs_micro"),
    ).orderBy("lang")


# --------------------------------------------------------------------------
# X231 — n-gram novelty profiling: per document, what fraction of its
# distinct word-5-grams has NEVER appeared in any earlier document
# (doc_id order = ingestion order). The corpus-side scan behind
# memorization/novelty studies (e.g. the Pile's "novel n-grams"
# accounting) and the streaming intuition for how fast a corpus stops
# contributing new text. Exact integers end to end.
# --------------------------------------------------------------------------
@query(
    "q_ngram_novelty",
    oracle=rf"""
    WITH tokl AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                          ' ') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
      FROM (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                 range(1, greatest(len(t) - 4, 1) + 1),
                 i -> array_to_string(t[i:i+4], ' ')))) AS g
        FROM tokl
      )
    ),
    firsts AS (SELECT h, min(doc_id) AS first_doc FROM grams GROUP BY h)
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f.first_doc < g.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_seen,
           CAST((COUNT(*) - SUM(CASE WHEN f.first_doc < g.doc_id
                                     THEN 1 ELSE 0 END)) * 1000000
                // COUNT(*) AS BIGINT) AS novelty_micro
    FROM grams g JOIN firsts f USING (h)
    GROUP BY g.doc_id ORDER BY g.doc_id
    """,
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X231 — per-document n-gram novelty: the fraction of a doc's
    DISTINCT word-5-grams whose first corpus occurrence (min doc_id) is
    the doc itself. High novelty = genuinely new text; low novelty =
    the document restates what the corpus already contains — the
    deduplication-adjacent signal memorization studies compute, and a
    curriculum/selection feature next to X229's distribution match.

    Exactness: grams travel as md5→15-hex→long keys (16 bytes shuffled
    per gram, never the text — the X110 discipline); first-occurrence
    is a map-side-partial MIN per gram hash; the novelty ratio is a
    truncated integer micro-unit division. Every column hashes
    identically cross-engine.

    Scale shape: two shuffles — (doc, gram-hash) distinct + the
    gram-keyed min — both on fixed-width longs; the join back rides the
    same gram-hash partitioning. A round-13 decade measurement
    (sf0.01→sf1) pinned this FORM as the fast one: an attempted
    rewrite that split n_seen into n_grams − n_new (counting firsts
    re-keyed by first_doc, to "save" the join-back) ran 2× slower at
    sf1 — it added a vocabulary-sized re-shuffle and a second gram
    build for the row-local count branch, while this form's join
    consumes the already-built gram stream. The first-occurrence
    table is vocabulary-of-5-grams-sized; Heaps' law keeps it
    sublinear in the corpus, and a production run would df-cap it
    exactly like X224's stop-grams."""
    from mysql_cdc_to_http_spark.operators.curation import (
        tokenize,
        word_ngrams_from_tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokenize(F.col("text")).alias("t"))
    # distinctness is WITHIN a doc, and a doc's grams live on one row —
    # array_distinct before the explode makes the dedup a row-local
    # projection instead of a fact-sized (doc, gram) shuffle.
    grams = toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(word_ngrams_from_tokens(F.col("t"), 5))
        ).alias("g"),
    ).select(
        "doc_id",
        F.conv(F.substring(F.md5("g"), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )
    firsts = grams.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    return (
        grams.join(firsts, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") < F.col("doc_id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_seen"),
            F.expr(
                "CAST((count(1) - sum(CASE WHEN first_doc < doc_id THEN 1"
                " ELSE 0 END)) * 1000000 div count(1) AS BIGINT)"
            ).alias("novelty_micro"),
        )
        
    )


# --------------------------------------------------------------------------
# X232 — "Fightin' Words" differential term audit (Monroe, Colaresi &
# Quinn 2008): which words distinguish one corpus slice from another,
# as Dirichlet-smoothed log-odds-ratio z-scores — the standard corpus-
# comparison tool for data audits (did this month's crawl drift? what
# does the quarantined slice over-represent?). All ln/sqrt arguments
# are exact integers or integer rationals; the 6-dp round absorbs libm
# ulps (q_char_entropy rule).
# --------------------------------------------------------------------------
@query(
    "q_fightin_words",
    oracle=r"""
    WITH tokl AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t,
             unnest(string_split(trim(regexp_replace(lower(text), '\s+',
                    ' ', 'g')), ' ')) AS w
      FROM documents
    ),
    counts AS (
      SELECT w,
             CAST(SUM(is_t) AS BIGINT) AS c1,
             CAST(SUM(1 - is_t) AS BIGINT) AS c2
      FROM tokl GROUP BY w
    ),
    tot AS (
      SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM counts
    ),
    scored AS (
      SELECT w, c1, c2,
             round((ln(CAST(c1 + 1 AS DOUBLE))
                    - ln(CAST(n1 + v - c1 - 1 AS DOUBLE))
                    - ln(CAST(c2 + 1 AS DOUBLE))
                    + ln(CAST(n2 + v - c2 - 1 AS DOUBLE)))
                   / sqrt(1.0 / (c1 + 1) + 1.0 / (c2 + 1)), 6) AS z
      FROM counts, tot
    )
    SELECT w AS word, c1 AS c_target, c2 AS c_rest, z AS zscore,
           CAST(row_number() OVER (ORDER BY z DESC, w) AS INT) AS rank
    FROM scored ORDER BY rank
    """,
)
def q_fightin_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X232 — Fightin' Words: per-word Dirichlet-smoothed (α=1)
    log-odds-ratio z-scores between the English slice and the rest of
    the corpus. Positive z = over-represented in the target slice; the
    ranking IS the audit (the top words are what drifted). Next to
    X106's PSI (distribution-level drift) this is the TERM-level
    attribution, and next to X229 it is the diagnostic view of the
    same target-vs-pool contrast DSIR scores on.

    z_w = (ln(c1+1) − ln(N1+V−c1−1) − ln(c2+1) + ln(N2+V−c2−1))
          / sqrt(1/(c1+1) + 1/(c2+1))

    Exactness: every ln argument is an exact integer and the variance
    an exact integer rational, so engine values agree to ulps; the 6-dp
    round absorbs them and ranking runs on the ROUNDED z with word
    tie-breaks. Scale shape: one scan → per-(word, slice) counts
    (map-side partials, vocab-sized by Heaps' law); the scoring join
    against the 1-row totals broadcasts; output is vocab-sized."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    flat = docs.select(
        (F.col("lang") == "en").cast("int").alias("is_t"),
        F.explode(toks).alias("w"),
    )
    counts = flat.groupBy("w").agg(
        F.sum("is_t").cast("long").alias("c1"),
        F.sum(1 - F.col("is_t")).cast("long").alias("c2"),
    )
    tot = counts.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    scored = counts.crossJoin(F.broadcast(tot)).select(
        "w",
        "c1",
        "c2",
        F.round(
            (
                F.log(F.expr("CAST(c1 + 1 AS DOUBLE)"))
                - F.log(F.expr("CAST(n1 + v - c1 - 1 AS DOUBLE)"))
                - F.log(F.expr("CAST(c2 + 1 AS DOUBLE)"))
                + F.log(F.expr("CAST(n2 + v - c2 - 1 AS DOUBLE)"))
            )
            / F.sqrt(1.0 / (F.col("c1") + 1) + 1.0 / (F.col("c2") + 1)),
            6,
        ).alias("z"),
    )
    w_rank = Window.orderBy(F.col("z").desc(), "w")
    return (
        scored.select(
            F.col("w").alias("word"),
            F.col("c1").alias("c_target"),
            F.col("c2").alias("c_rest"),
            F.col("z").alias("zscore"),
            F.row_number().over(w_rank).cast("int").alias("rank"),
        )
        .orderBy("rank")
    )


# --------------------------------------------------------------------------
# X237 — incremental novelty under append (the streaming sibling of
# X231): the per-gram first-occurrence store is MERGEABLE state (min
# is associative), so a foreachBatch fold over arriving batches scores
# each new batch against store + batch-internal order without ever
# rescanning history. The oracle computes the one-shot answer for the
# second epoch; hash parity proves fold == one-shot.
# --------------------------------------------------------------------------
@query(
    "q_novelty_incremental",
    oracle=rf"""
    WITH half AS (SELECT MAX(doc_id) // 2 AS b FROM documents),
    tokl AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                          ' ') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
      FROM (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                 range(1, greatest(len(t) - 4, 1) + 1),
                 i -> array_to_string(t[i:i+4], ' ')))) AS g
        FROM tokl
      )
    ),
    firsts AS (SELECT h, min(doc_id) AS first_doc FROM grams GROUP BY h)
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f.first_doc < g.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_seen,
           CAST((COUNT(*) - SUM(CASE WHEN f.first_doc < g.doc_id
                                     THEN 1 ELSE 0 END)) * 1000000
                // COUNT(*) AS BIGINT) AS novelty_micro
    FROM grams g JOIN firsts f USING (h), half
    WHERE g.doc_id >= half.b
    GROUP BY g.doc_id ORDER BY g.doc_id
    """,
)
def q_novelty_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X237 — novelty scoring of an ARRIVING batch against a maintained
    first-occurrence store, without rescanning history: epoch 1 (docs
    below the id midpoint) folds into a (gram-hash → first doc_id)
    store; epoch 2 scores against store membership plus batch-internal
    order only. Because every stored first precedes every epoch-2 doc,
    "seen" = gram in store OR an earlier epoch-2 doc carries it — no
    history rescan, and the store itself updates by an associative MIN
    merge (the mergeable-state property that makes the fold a
    foreachBatch body; X203's KMV discipline applied to X231).

    The oracle computes the ONE-SHOT answer over the full corpus
    restricted to epoch-2 docs — hash parity proves fold == one-shot,
    the X94/X228/X235 identity rule. Store is gram-vocabulary-sized
    (Heaps-sublinear); the scoring join shuffles fixed-width longs."""
    from mysql_cdc_to_http_spark.operators.curation import (
        tokenize,
        word_ngrams_from_tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    half = docs.agg(
        F.expr("CAST(max(doc_id) div 2 AS BIGINT)").alias("b")
    )
    toks = docs.select("doc_id", tokenize(F.col("text")).alias("t"))
    grams = toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(word_ngrams_from_tokens(F.col("t"), 5))
        ).alias("g"),
    ).select(
        "doc_id",
        F.conv(F.substring(F.md5("g"), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    ).crossJoin(F.broadcast(half))
    store = (
        grams.filter(F.col("doc_id") < F.col("b"))
        .groupBy("h")
        .agg(F.lit(1).alias("in_store"))
    )
    batch2 = grams.filter(F.col("doc_id") >= F.col("b"))
    internal = batch2.groupBy("h").agg(
        F.min("doc_id").alias("batch_first")
    )
    scored = (
        batch2.join(store, "h", "left")
        .join(internal, "h")
        .select(
            "doc_id",
            (
                F.col("in_store").isNotNull()
                | (F.col("batch_first") < F.col("doc_id"))
            )
            .cast("int")
            .alias("seen"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum("seen").cast("long").alias("n_seen"),
            F.expr(
                "CAST((count(1) - sum(seen)) * 1000000 div count(1)"
                " AS BIGINT)"
            ).alias("novelty_micro"),
        )
        
    )


# --------------------------------------------------------------------------
# X243 — opt-out / blocklist URL filtering (the robots.txt-and-takedown
# compliance gate every crawl-derived corpus runs before training):
# domain rules block a registrable domain AND all its subdomains, path
# rules block by case-folded path prefix. The scalable move is the
# ancestor-expansion equi-join — each host explodes into its O(#labels)
# DNS suffixes ("www.example3.com" -> [www.example3.com, example3.com,
# com]) and the block list joins by EXACT key, so there is no
# fact-sided LIKE scan for domain rules (the path-prefix class joins
# via broadcast prefix test against the model-sized rule list). URLs
# are the X129 deterministic fixtures; the winning rule per doc is
# MIN(rule_id) — a deterministic priority contract.
# --------------------------------------------------------------------------
_OPTOUT_RULES = (
    (1, "domain", "example3.com"),
    (2, "domain", "example7.com"),
    (3, "domain", "www.example15.com"),
    (4, "path", "/path13"),
    (5, "path", "/path4"),
)
_OPTOUT_VALUES_SQL = ", ".join(
    f"({i}, '{k}', '{p}')" for i, k, p in _OPTOUT_RULES
)


@query(
    "q_url_optout",
    oracle=f"""
    WITH rules AS (
      SELECT * FROM (VALUES {_OPTOUT_VALUES_SQL})
        AS r(rule_id, kind, pattern)
    ),
    raw AS (SELECT doc_id, {_URL_DUCK} AS url FROM documents),
    parts AS (
      SELECT doc_id,
             regexp_replace(
               lower(regexp_extract(regexp_replace(url, '#.*$', ''),
                     '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?]+)', 1)),
               ':(443|80)$', '') AS host,
             lower(regexp_extract(regexp_replace(url, '#.*$', ''),
                   '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*([^?#]*)', 1)) AS path
      FROM raw
    ),
    anc AS (
      SELECT doc_id, host, unnest(
               list_transform(range(1, len(string_split(host, '.')) + 1),
                 i -> array_to_string(
                        string_split(host, '.')[i:len(string_split(host,
                                                                   '.'))],
                        '.'))) AS a
      FROM parts
    ),
    dhit AS (
      SELECT anc.doc_id, r.rule_id
      FROM anc JOIN rules r ON r.kind = 'domain' AND anc.a = r.pattern
    ),
    phit AS (
      SELECT p.doc_id, r.rule_id
      FROM parts p JOIN rules r
        ON r.kind = 'path' AND starts_with(p.path, r.pattern)
    ),
    hits AS (
      SELECT doc_id, CAST(min(rule_id) AS INT) AS rule_id
      FROM (SELECT * FROM dhit UNION ALL SELECT * FROM phit)
      GROUP BY doc_id
    )
    SELECT h.doc_id, p.host, h.rule_id, r.kind, r.pattern
    FROM hits h
    JOIN parts p ON p.doc_id = h.doc_id
    JOIN rules r ON r.rule_id = h.rule_id
    ORDER BY h.doc_id
    """,
)
def q_url_optout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X243 — opt-out blocklist filter over the X129 URL fixtures:
    blocked docs with the winning (MIN rule_id) rule attached.

    Scale shape: host parsing is a codegen regex projection; domain
    rules match via the exploded DNS-suffix equi-join (<= #labels rows
    per doc, broadcast rule table — never a fact-sided LIKE), path
    rules via a broadcast prefix test against the model-sized rule
    list; the winner is a per-doc MIN aggregate and the detail join
    back is broadcast. Determinism: fixtures and parsing are pure
    per-row functions of doc_id; MIN(rule_id) is a total priority
    order; every engine-side string op (lower/regexp/starts_with) has
    an exact DuckDB mirror. Reference analog: none — main.go forwards
    every row; allow/deny routing exists only at the table-name level
    (main.go:206-210), which X3/X4's source filters already model.
    """
    docs = load_table(spark, sf_dir, "documents")
    rules = spark.createDataFrame(
        list(_OPTOUT_RULES), "rule_id int, kind string, pattern string"
    )
    raw = docs.select("doc_id", F.expr(_URL_SPARK).alias("url"))
    u = F.regexp_replace(F.col("url"), r"#.*$", "")
    host = F.regexp_replace(
        F.lower(
            F.regexp_extract(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?]+)", 1)
        ),
        r":(443|80)$",
        "",
    )
    path = F.lower(
        F.regexp_extract(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*([^?#]*)", 1)
    )
    parts = raw.select("doc_id", host.alias("host"), path.alias("path"))
    labels = F.split(F.col("host"), r"\.")
    ancestors = F.transform(
        F.sequence(F.lit(1), F.size(labels)),
        lambda i: F.array_join(
            F.slice(labels, i, F.size(labels) - i + 1), "."
        ),
    )
    anc = parts.select(
        "doc_id", F.explode(ancestors).alias("a")
    )
    dom_rules = F.broadcast(rules.filter(F.col("kind") == "domain"))
    path_rules = F.broadcast(rules.filter(F.col("kind") == "path"))
    dhit = anc.join(
        dom_rules, anc["a"] == dom_rules["pattern"]
    ).select("doc_id", "rule_id")
    phit = parts.join(
        path_rules, F.expr("startswith(path, pattern)")
    ).select("doc_id", "rule_id")
    hits = (
        dhit.unionByName(phit)
        .groupBy("doc_id")
        .agg(F.min("rule_id").cast("int").alias("rule_id"))
    )
    return (
        hits.join(parts, "doc_id")
        .join(F.broadcast(rules), "rule_id")
        .select("doc_id", "host", "rule_id", "kind", "pattern")
        
    )


# --------------------------------------------------------------------------
# X246 — inter-rater agreement (Cohen's kappa, 1960) between two
# cheap quality gates: the curation diagnostic that tells you whether
# your rule-based gate and your statistical gate are measuring the
# same thing (kappa ~ 1), are independent (kappa ~ 0), or
# systematically disagree (kappa < 0) — chance-corrected, unlike raw
# percent agreement, so a 95%-keep corpus can't fake concordance.
# Raters here: A = the two live Gopher-style rules on this corpus
# (word count >= 50, >= 2 distinct stopword hits — the X223 subset
# that actually discriminates on the synthetic text) and B = the
# X239 type-token-ratio proxy at 0.45; both are pluggable one-line
# boolean columns — any oracled gate (X98/X117/X229) drops in.
# Kappa is computed as the EXACT rational
#   (n·(n11+n00) − (r1·c1 + r0·c0)) / (n² − (r1·c1 + r0·c0))
# in DECIMAL(38,0) cross-multiplied form, then presented in micro
# units via the sign·(abs div) idiom (X216's rule: Spark div
# truncates, DuckDB // floors — they agree only on non-negatives).
# --------------------------------------------------------------------------
# The ONE stop list for the whole rater-gate family (X246 kappa,
# X262 krippendorff, X327-X354 battery). Both engine and oracle forms
# are RENDERED from this Python constant — never hand-copied — after
# the r12-r14 lesson: q_krippendorff's engine side carried 'stream'
# where its oracle carried 'join' for five rounds, invisible to
# mirrored-oracle hash parity while no fixture contained either token
# (r14 ADVICE, medium). tests/test_round15.py plants a fixture made
# ONLY of 'join'/'stream' tokens to keep the two forms pinned.
_KAPPA_STOPS = ["the", "a", "data", "spark", "query", "join"]
_KAPPA_STOPS_SQL = "[" + ", ".join(f"'{w}'" for w in _KAPPA_STOPS) + "]"
_KAPPA_STOPS_SPARK = (
    "array(" + ", ".join(f"'{w}'" for w in _KAPPA_STOPS) + ")"
)


@query(
    "q_rater_kappa",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                          ' ') AS t
      FROM documents
    ),
    rated AS (
      SELECT doc_id,
             (len(t) >= 50 AND
              len(list_distinct(list_intersect(t, {_KAPPA_STOPS_SQL})))
                >= 2) AS ra,
             (CAST(len(list_distinct(t)) * 1000000 // len(t) AS BIGINT)
                >= 450000) AS rb
      FROM tok
    ),
    cont AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (ra AND rb) AS BIGINT) AS n11,
             CAST(count(*) FILTER (ra AND NOT rb) AS BIGINT) AS n10,
             CAST(count(*) FILTER (NOT ra AND rb) AS BIGINT) AS n01,
             CAST(count(*) FILTER (NOT ra AND NOT rb) AS BIGINT) AS n00
      FROM rated
    ),
    rat AS (
      SELECT n, n11, n10, n01, n00,
             CAST(n AS HUGEINT) * (n11 + n00)
               - (CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
                  + CAST(n01 + n00 AS HUGEINT) * (n10 + n00)) AS num,
             CAST(n AS HUGEINT) * n
               - (CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
                  + CAST(n01 + n00 AS HUGEINT) * (n10 + n00)) AS den
      FROM cont
    )
    SELECT n, n11, n10, n01, n00,
           CAST((n11 + n00) * 1000000 // n AS BIGINT) AS po_micro,
           CAST((CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
                 + CAST(n01 + n00 AS HUGEINT) * (n10 + n00))
                * 1000000 // (CAST(n AS HUGEINT) * n) AS BIGINT)
             AS pe_micro,
           CAST(CASE WHEN den = 0 THEN NULL
                     WHEN num >= 0 THEN (num * 1000000) // den
                     ELSE -((-num * 1000000) // den) END AS BIGINT)
             AS kappa_micro
    FROM rat
    """,
)
def q_rater_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X246 — chance-corrected agreement between the rule gate and the
    TTR gate: 2×2 contingency counts + exact-rational Cohen's kappa.

    Determinism: both raters are integer/boolean projections; the
    contingency table is one counting aggregate with map-side
    partials; kappa's numerator/denominator are exact DECIMAL(38)
    integers and the only divisions are the sign-corrected micro-unit
    presentations (negative-safe via sign·(abs div); den=0 → NULL on
    both engines). Scale shape: one scan → 1-row aggregate →
    constant-size arithmetic; scan-bound at any corpus size.
    Reference analog: none (main.go has no quality surface).
    """
    docs = load_table(spark, sf_dir, "documents")
    t = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    rated = docs.select("doc_id", t.alias("t")).select(
        "doc_id",
        (
            (F.size("t") >= 50)
            & (
                F.size(
                    F.array_distinct(
                        F.array_intersect(
                            F.col("t"),
                            F.expr(_KAPPA_STOPS_SPARK),
                        )
                    )
                )
                >= 2
            )
        ).alias("ra"),
        (
            F.expr(
                "CAST(size(array_distinct(t)) * 1000000 div size(t)"
                " AS BIGINT)"
            )
            >= 450_000
        ).alias("rb"),
    )
    cont = rated.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("ra") & F.col("rb")).cast("long"))
        .cast("long")
        .alias("n11"),
        F.sum((F.col("ra") & ~F.col("rb")).cast("long"))
        .cast("long")
        .alias("n10"),
        F.sum((~F.col("ra") & F.col("rb")).cast("long"))
        .cast("long")
        .alias("n01"),
        F.sum((~F.col("ra") & ~F.col("rb")).cast("long"))
        .cast("long")
        .alias("n00"),
    )
    rat = cont.select(
        "*",
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * (n11 + n00)"
            " - (CAST(n11 + n10 AS DECIMAL(38,0)) * (n11 + n01)"
            "    + CAST(n01 + n00 AS DECIMAL(38,0)) * (n10 + n00))"
        ).alias("num"),
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * n"
            " - (CAST(n11 + n10 AS DECIMAL(38,0)) * (n11 + n01)"
            "    + CAST(n01 + n00 AS DECIMAL(38,0)) * (n10 + n00))"
        ).alias("den"),
    )
    return rat.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.expr("CAST((n11 + n00) * 1000000 div n AS BIGINT)").alias(
            "po_micro"
        ),
        F.expr(
            "CAST((CAST(n11 + n10 AS DECIMAL(38,0)) * (n11 + n01)"
            "      + CAST(n01 + n00 AS DECIMAL(38,0)) * (n10 + n00))"
            " * 1000000 div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"
        ).alias("pe_micro"),
        F.expr(
            "CAST(CASE WHEN den = 0 THEN NULL"
            " WHEN num >= 0 THEN (num * 1000000) div den"
            " ELSE -((-num * 1000000) div den) END AS BIGINT)"
        ).alias("kappa_micro"),
    )


# --------------------------------------------------------------------------
# X253 — containment decontamination: flag training docs that contain
# >= 50% of some INDIVIDUAL benchmark item's shingles — the
# quoted-benchmark alarm X50's aggregate overlap structurally dilutes
# (a whole benchmark item pasted into a long training doc can sit
# under a 5% whole-set overlap, yet its per-item containment is 1.0;
# and X50 cannot say WHICH item leaked). Per-item containment
# |sh(bench_i) ∩ sh(train)| / |sh(bench_i)| is X240's asymmetric
# measure pointed across corpora, with the benchmark side BROADCAST —
# benchmark sets are model-sized by definition, so the training
# corpus explodes shingle hashes into a map-side broadcast join and
# never shuffles for candidate generation.
# --------------------------------------------------------------------------
_DECON_CONTAIN_THRESH = 500_000
#: X254-screen sketch width for the X253 pass-1 gate; keep-cut is
#: threshold 0.5 − margin 0.3 = 0.2 (integer form 5·msk ≥
#: min(K, bench_size)). Worst-case true-pair estimate on the test
#: corpus family is ≥ 0.88 at every SF (tests/test_round12.py).
_DECON_SCREEN_K = 32


@query(
    "q_decontaminate_containment",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id, source,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                          ' ') AS t
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, source,
             ('0x' || substr(md5(unnest(
                list_transform(range(1, greatest(len(t) - 2, 1) + 1),
                               i -> array_to_string(t[i:i+2], ' ')))),
                1, 15))::BIGINT AS h
      FROM tok
    ),
    bench AS (SELECT doc_id AS bench_id, h FROM sh WHERE source = 'src0'),
    bsz AS (SELECT bench_id, CAST(count(*) AS BIGINT) AS bench_size
            FROM bench GROUP BY bench_id),
    train AS (SELECT doc_id AS train_id, h FROM sh
              WHERE source != 'src0'),
    hits AS (
      SELECT t.train_id, b.bench_id, CAST(count(*) AS BIGINT) AS matched
      FROM train t JOIN bench b USING (h)
      GROUP BY t.train_id, b.bench_id
    )
    SELECT h.train_id, h.bench_id, s.bench_size, h.matched,
           CAST(h.matched * 1000000 // s.bench_size AS BIGINT)
             AS containment_micro
    FROM hits h JOIN bsz s USING (bench_id)
    WHERE h.matched * 1000000 // s.bench_size
          >= {_DECON_CONTAIN_THRESH}
    ORDER BY train_id, bench_id
    """,
)
def q_decontaminate_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X253 — per-benchmark-item containment >= 0.5 of training docs
    against the 'src0' benchmark slice (X50's fixture convention).

    Scale shape (r12 — screen→verify, r11 verdict #2): the shingle
    hashes come from the containment family's SHARED persisted corpus
    (llm._shingle_hash_corpus — the materialize-once shingle table a
    production stack maintains; the md5 pass was 3.3 of this query's
    4.2 s). Pass 1 explodes the training side against a BROADCAST
    bottom-32 SKETCH of each benchmark item (32 longs per item
    instead of the full posting list) and keeps only train docs whose
    estimated containment against some item clears threshold−margin
    (0.5−0.3 = 0.2, integer cross-multiplied); pass 2 explodes ONLY
    the surviving train docs (59 of 4,750 at sf0.1 — the semi-join
    prunes whole documents before the explode) into the exact
    broadcast posting join + threshold. The corpus never shuffles for
    candidates in either pass, and the screen margin is pinned by
    the UNSCREENED DuckDB oracle (a false negative is a hash
    mismatch) plus the gap audit in tests/test_round12.py.
    Determinism: md5→15-hex→long shingles end-to-end; containment is
    a truncated integer micro-unit division of non-negatives; the
    screen only ever removes EXACT-verify inputs whose estimate is
    far below threshold, never changes a survivor's value.
    Reference analog: none.
    """
    from mysql_cdc_to_http_spark.queries.llm import _shingle_hash_corpus

    corpus = _shingle_hash_corpus(spark, sf_dir)

    def shingled(frame, id_alias):
        return frame.select(
            F.col("doc_id").alias(id_alias), F.explode("hs").alias("h")
        )

    bench = shingled(corpus.filter(F.col("source") == "src0"), "bench_id")
    bsz = bench.groupBy("bench_id").agg(
        F.count(F.lit(1)).cast("long").alias("bench_size")
    )
    # Bottom-32 sketch postings per benchmark item: 32 longs each —
    # the broadcast side of the pass-1 screen. For bench items with
    # fewer than 32 distinct shingles the sketch IS the full set
    # (the estimate degenerates to exact — strictly safer).
    bench_sk = (
        bench.groupBy("bench_id")
        .agg(
            F.slice(
                F.array_sort(F.collect_set("h")), 1, _DECON_SCREEN_K
            ).alias("sk"),
            F.count(F.lit(1)).cast("long").alias("bench_size"),
        )
        .select("bench_id", "bench_size", F.explode("sk").alias("h"))
    )
    train_docs = corpus.filter(F.col("source") != "src0")
    # Pass 1 (screen): matched-sketch count per (train, bench);
    # est = msk / min(K, bench_size) ≥ 0.2, cross-multiplied to the
    # integer gate 5·msk ≥ min(K, bench_size).
    surviving_ids = (
        shingled(train_docs, "train_id")
        .join(F.broadcast(bench_sk), "h")
        .groupBy("train_id", "bench_id", "bench_size")
        .agg(F.count(F.lit(1)).alias("scr_msk"))
        .filter(
            F.expr(
                f"5 * scr_msk >= least({_DECON_SCREEN_K}, bench_size)"
            )
        )
        .select("train_id")
        .distinct()
    )
    # Pass 2 (exact verify): explode ONLY the surviving train docs —
    # the broadcast semi-join prunes whole documents first — then the
    # r11 exact broadcast posting join and threshold, unchanged.
    train = shingled(
        train_docs.join(
            F.broadcast(surviving_ids),
            train_docs["doc_id"] == surviving_ids["train_id"],
            "left_semi",
        ),
        "train_id",
    )
    hits = (
        train.join(F.broadcast(bench), "h")
        .groupBy("train_id", "bench_id")
        .agg(F.count(F.lit(1)).cast("long").alias("matched"))
    )
    return (
        hits.join(F.broadcast(bsz), "bench_id")
        .withColumn(
            "containment_micro",
            F.expr(
                "CAST(matched * 1000000 div bench_size AS BIGINT)"
            ),
        )
        .filter(F.col("containment_micro") >= _DECON_CONTAIN_THRESH)
        .select(
            "train_id",
            "bench_id",
            "bench_size",
            "matched",
            "containment_micro",
        )
        .orderBy("train_id", "bench_id")
    )


# --------------------------------------------------------------------------
# X260 — curriculum schedule: order documents by a difficulty score
# (lexical diversity — type/token ratio in micro-units) and deal them
# into 8 equal-count stages; audit that stage boundaries are monotone
# (no stage contains a document easier than the previous stage's
# hardest). This is the deterministic schedule builder behind
# curriculum pretraining (easy→hard ordering with reproducible stage
# membership).
# --------------------------------------------------------------------------
_CURRICULUM_STAGES = 8


@query(
    "q_curriculum_schedule",
    oracle=rf"""
    WITH scored AS (
      SELECT doc_id,
             CAST(len(list_distinct(string_split(trim(regexp_replace(
                    lower(text), '\s+', ' ', 'g')), ' '))) * 1000000
                  // len(string_split(trim(regexp_replace(
                    lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT)
               AS difficulty_micro,
             CAST(len(string_split(trim(regexp_replace(lower(text), '\s+',
                  ' ', 'g')), ' ')) AS BIGINT) AS nt
      FROM documents
    ),
    staged AS (
      SELECT doc_id, difficulty_micro, nt,
             CAST(ntile({_CURRICULUM_STAGES}) OVER (
               ORDER BY difficulty_micro, doc_id) AS BIGINT) AS stage
      FROM scored
    ),
    agg AS (
      SELECT stage,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(nt) AS BIGINT) AS tokens,
             CAST(MIN(difficulty_micro) AS BIGINT) AS min_difficulty,
             CAST(MAX(difficulty_micro) AS BIGINT) AS max_difficulty
      FROM staged GROUP BY stage
    )
    SELECT stage, n_docs, tokens, min_difficulty, max_difficulty,
           COALESCE(min_difficulty >= lag(max_difficulty)
                      OVER (ORDER BY stage), TRUE) AS boundary_ok
    FROM agg ORDER BY stage
    """,
)
def q_curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X260 — TTR-difficulty curriculum: 8 equal-count stages via
    ntile over (difficulty_micro, doc_id) — a total order, so stage
    membership is engine-reproducible — plus the per-stage boundary
    monotonicity audit (>= because equal difficulties legally straddle
    an ntile cut).

    Scale shape: the rank behind ntile is the one global sort in the
    operator — at fleet scale it runs as the grouped_ranks
    range-partitioned form (X244); here the built-in window keeps the
    plan identical to the oracle's. Aggregates are 8-group counting
    partials; the audit is a lag over 8 rows. Reference analog:
    none."""
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    t = F.split(
        F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
    )
    scored = docs.select(
        "doc_id",
        F.expr(
            "CAST(size(array_distinct(split(trim(regexp_replace("
            "lower(text), '\\\\s+', ' ')), ' '))) * 1000000"
            " div size(split(trim(regexp_replace(lower(text), '\\\\s+',"
            " ' ')), ' ')) AS BIGINT)"
        ).alias("difficulty_micro"),
        F.size(t).cast("long").alias("nt"),
    )
    staged = scored.withColumn(
        "stage",
        F.ntile(_CURRICULUM_STAGES)
        .over(W.orderBy("difficulty_micro", "doc_id"))
        .cast("long"),
    )
    agg = staged.groupBy("stage").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("nt").cast("long").alias("tokens"),
        F.min("difficulty_micro").cast("long").alias("min_difficulty"),
        F.max("difficulty_micro").cast("long").alias("max_difficulty"),
    )
    return agg.select(
        "stage",
        "n_docs",
        "tokens",
        "min_difficulty",
        "max_difficulty",
        F.coalesce(
            F.col("min_difficulty")
            >= F.lag("max_difficulty").over(W.orderBy("stage")),
            F.lit(True),
        ).alias("boundary_ok"),
    ).orderBy("stage")


# --------------------------------------------------------------------------
# X262 — Krippendorff's alpha (nominal, binary, 3 raters, complete
# data): the generalization of X246's Cohen kappa to >2 raters — THE
# reliability statistic data-annotation pipelines report. Raters are
# three deterministic quality gates (X246's rule + TTR raters plus a
# length gate), so the coincidence arithmetic is exact integers
# end-to-end: alpha = 1 − A(3N−1)/(2B) with A = 2·Σ_u n1u(3−n1u)
# (within-unit disagreement pairs) and B = 2·nT(T−nT) over the pooled
# margin (T = 3N).
# --------------------------------------------------------------------------
@query(
    "q_krippendorff",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                          ' ') AS t
      FROM documents
    ),
    rated AS (
      SELECT doc_id,
             CAST(len(t) >= 50 AND
              len(list_distinct(list_intersect(t, {_KAPPA_STOPS_SQL})))
                >= 2 AS INT)
             + CAST(CAST(len(list_distinct(t)) * 1000000 // len(t) AS BIGINT)
                >= 450000 AS INT)
             + CAST(len(t) >= 60 AS INT) AS n1
      FROM tok
    ),
    agg AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(SUM(n1) AS HUGEINT) AS nt,
             CAST(2 * SUM(n1 * (3 - n1)) AS HUGEINT) AS a
      FROM rated
    )
    SELECT CAST(n AS BIGINT) AS n_units,
           CAST(nt AS BIGINT) AS n_true_ratings,
           CAST(a AS BIGINT) AS disagreement_pairs,
           CAST(a * 1000000 // (n * 6) AS BIGINT) AS do_micro,
           CAST(2 * nt * (3 * n - nt) * 1000000
                // ((3 * n) * (3 * n - 1)) AS BIGINT) AS de_micro,
           CAST(CASE WHEN nt = 0 OR nt = 3 * n THEN NULL
                ELSE 1000000 - (a * (3 * n - 1) * 1000000)
                               // (4 * nt * (3 * n - nt)) END
                AS BIGINT) AS alpha_micro
    FROM agg
    """,
)
def q_krippendorff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X262 — Krippendorff's nominal alpha for the 3-gate rater panel.

    Exactness: n1 per unit is an integer projection; A and the margin
    total are integer sums (map-side partials); alpha's one division
    is the final truncated micro-unit presentation over DECIMAL(38)
    intermediates (both engines' 128-bit integer paths), NULL when the
    margin is degenerate (all ratings one category → De = 0).
    Scale shape: one scan → 1-row aggregate → constant arithmetic.
    Reference analog: none."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    stops = F.expr(_KAPPA_STOPS_SPARK)
    rated = docs.select(t.alias("t")).select(
        (
            (
                (F.size("t") >= 50)
                & (
                    F.size(
                        F.array_distinct(F.array_intersect(F.col("t"), stops))
                    )
                    >= 2
                )
            ).cast("int")
            + (
                F.expr(
                    "CAST(size(array_distinct(t)) * 1000000 div size(t)"
                    " AS BIGINT)"
                )
                >= 450000
            ).cast("int")
            + (F.size("t") >= 60).cast("int")
        ).alias("n1")
    )
    agg = rated.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("n1").cast("decimal(38,0)").alias("nt"),
        (F.lit(2) * F.sum(F.col("n1") * (F.lit(3) - F.col("n1"))))
        .cast("decimal(38,0)")
        .alias("a"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n_units"),
        F.col("nt").cast("long").alias("n_true_ratings"),
        F.col("a").cast("long").alias("disagreement_pairs"),
        F.expr("CAST((a * 1000000) div (n * 6) AS BIGINT)").alias(
            "do_micro"
        ),
        F.expr(
            "CAST((2 * nt * (3 * n - nt) * 1000000)"
            " div ((3 * n) * (3 * n - 1)) AS BIGINT)"
        ).alias("de_micro"),
        F.expr(
            "CAST(CASE WHEN nt = 0 OR nt = 3 * n THEN NULL"
            " ELSE 1000000 - (a * (3 * n - 1) * 1000000)"
            " div (4 * nt * (3 * n - nt)) END AS BIGINT)"
        ).alias("alpha_micro"),
    )


# --------------------------------------------------------------------------
# X263 — char-trigram language identification (Cavnar & Trenkle 1994
# rank-distance, the n-gram-profile method production lang-ID models
# descend from), trained ON THE CORPUS ITSELF: per-language top-100
# trigram profiles from the 80% train split (doc_id % 5 != 1), test
# docs (doc_id % 5 == 1) classified by out-of-place rank distance.
# Unlike the fixed-wordlist heuristic (X49, rows-only by design), this
# arm is fully deterministic integer arithmetic — the whole
# train→profile→classify→confusion pipeline hash-matches the oracle,
# closing lang-ID's oracle gap with a real published algorithm.
# --------------------------------------------------------------------------
_LID_PROFILE = 100  # language profile depth
_LID_DOC_TOP = 20  # per-doc profile depth
_LID_PENALTY = 100  # out-of-place penalty for unseen grams


@query(
    "q_char_lid",
    oracle=rf"""
    WITH norm AS (
      SELECT doc_id, lang,
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS s
      FROM documents
    ),
    grams AS (
      SELECT doc_id, lang,
             unnest(list_transform(range(1, greatest(len(s) - 2, 0) + 1),
                                   i -> substr(s, CAST(i AS INT), 3))) AS g
      FROM norm
    ),
    lang_prof AS (
      SELECT lang, g,
             row_number() OVER (PARTITION BY lang
                                ORDER BY cnt DESC, g) AS lrank
      FROM (
        SELECT lang, g, count(*) AS cnt
        FROM grams WHERE doc_id % 5 != 1
        GROUP BY lang, g
      ) QUALIFY lrank <= {_LID_PROFILE}
    ),
    doc_prof AS (
      SELECT doc_id, lang AS true_lang, g,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY cnt DESC, g) AS drank
      FROM (
        SELECT doc_id, lang, g, count(*) AS cnt
        FROM grams WHERE doc_id % 5 = 1
        GROUP BY doc_id, lang, g
      ) QUALIFY drank <= {_LID_DOC_TOP}
    ),
    langs AS (SELECT DISTINCT lang FROM documents),
    dist AS (
      SELECT d.doc_id, d.true_lang, l.lang AS cand,
             CAST(SUM(CASE WHEN p.lrank IS NULL THEN {_LID_PENALTY}
                      ELSE abs(d.drank - p.lrank) END) AS BIGINT) AS rd
      FROM doc_prof d
      CROSS JOIN langs l
      LEFT JOIN lang_prof p ON p.lang = l.lang AND p.g = d.g
      GROUP BY d.doc_id, d.true_lang, l.lang
    ),
    pred AS (
      SELECT doc_id, true_lang, cand AS pred_lang,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY rd, cand) AS r
      FROM dist
    )
    SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
    FROM pred WHERE r = 1
    GROUP BY true_lang, pred_lang
    ORDER BY true_lang, pred_lang
    """,
)
def q_char_lid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X263 — Cavnar-Trenkle rank-distance lang-ID, self-trained:
    confusion-matrix counts over the held-out split.

    Determinism: profile and doc ranks order on (count desc, gram asc)
    — total orders — and the rank distance is an integer sum with an
    integer out-of-place penalty; argmin breaks ties on language code.

    Scale shape: the gram explode is scan-shaped (fixed width per
    char); the language profile is a (lang x gram) aggregate cut to
    100 rows/lang — BROADCAST to the doc side, so classification is a
    map-side join over each doc's 20-row profile and a (doc x 5)-row
    argmin. Nothing pairwise, nothing corpus-quadratic; the train
    aggregate is the only fact-sized shuffle. Reference analog: none
    (X49's wordlist heuristic was the rows-only stand-in; this is the
    oracled arm)."""
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    norm = docs.select(
        "doc_id",
        "lang",
        F.trim(
            F.regexp_replace(F.lower("text"), r"\s+", " ")
        ).alias("s"),
    )
    # DuckDB range(1, n+1) emits 1..n (exclusive end) where Spark's
    # sequence is inclusive — mirror with sequence(1, len-2) and an
    # explicit empty-array guard for sub-trigram docs.
    grams = norm.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "CASE WHEN char_length(s) >= 3 THEN"
                " transform(sequence(1, char_length(s) - 2),"
                "           i -> substring(s, i, 3))"
                " ELSE array() END"
            )
        ).alias("g"),
    )
    lang_prof = (
        grams.filter(F.col("doc_id") % 5 != 1)
        .groupBy("lang", "g")
        .count()
        .withColumn(
            "lrank",
            F.row_number().over(
                W.partitionBy("lang").orderBy(F.desc("count"), F.asc("g"))
            ),
        )
        .filter(F.col("lrank") <= _LID_PROFILE)
        .select(F.col("lang").alias("plang"), "g", "lrank")
    )
    doc_prof = (
        grams.filter(F.col("doc_id") % 5 == 1)
        .groupBy("doc_id", "lang", "g")
        .count()
        .withColumn(
            "drank",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy(F.desc("count"), F.asc("g"))
            ),
        )
        .filter(F.col("drank") <= _LID_DOC_TOP)
        .select("doc_id", F.col("lang").alias("true_lang"), "g", "drank")
    )
    langs = docs.select("lang").distinct().select(
        F.col("lang").alias("cand")
    )
    dist = (
        doc_prof.crossJoin(F.broadcast(langs))
        .join(
            F.broadcast(lang_prof),
            (F.col("plang") == F.col("cand")) & (lang_prof["g"] == doc_prof["g"]),
            "left",
        )
        .groupBy("doc_id", "true_lang", "cand")
        .agg(
            F.sum(
                F.when(
                    F.col("lrank").isNull(), F.lit(_LID_PENALTY)
                ).otherwise(F.abs(F.col("drank") - F.col("lrank")))
            )
            .cast("long")
            .alias("rd")
        )
    )
    pred = dist.withColumn(
        "r",
        F.row_number().over(
            W.partitionBy("doc_id").orderBy(F.asc("rd"), F.asc("cand"))
        ),
    ).filter(F.col("r") == 1)
    return (
        pred.groupBy(
            F.col("true_lang"), F.col("cand").alias("pred_lang")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("true_lang", "pred_lang")
    )


# --------------------------------------------------------------------------
# X266 — dataset card rollup: the per-source datasheet a curated
# release ships with — document/token volumes, language spread,
# length and lexical-diversity profiles, and the long-doc share. One
# scan, one grouped aggregate; every ratio a truncated integer
# micro-unit over exact sums.
# --------------------------------------------------------------------------
@query(
    "q_dataset_card",
    oracle=r"""
    WITH per_doc AS (
      SELECT source, lang,
             CAST(len(string_split(trim(regexp_replace(lower(text), '\s+',
                  ' ', 'g')), ' ')) AS BIGINT) AS nt,
             CAST(len(list_distinct(string_split(trim(regexp_replace(
                  lower(text), '\s+', ' ', 'g')), ' '))) AS BIGINT) AS nd,
             CAST(strlen(text) AS BIGINT) AS nb
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(SUM(nt) AS BIGINT) AS total_tokens,
           CAST(SUM(nb) AS BIGINT) AS total_bytes,
           CAST(SUM(nt) * 1000000 // count(*) AS BIGINT)
             AS mean_tokens_micro,
           CAST(SUM(nd * 1000000 // nt) // count(*) AS BIGINT)
             AS mean_ttr_micro,
           CAST(SUM(CASE WHEN nt >= 100 THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS long_doc_share_micro
    FROM per_doc
    GROUP BY source
    ORDER BY source
    """,
)
def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X266 — per-source dataset card: volumes, language spread,
    mean length, mean per-doc type/token ratio, long-doc share.

    Scale shape: one scan → per-doc integer projections → one
    source-keyed counting aggregate (20 groups, map-side partials).
    Every division is a truncated integer micro-unit over exact
    BIGINT sums, so the card hash-matches at any partitioning.
    Reference analog: none (main.go has no profiling surface)."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.split(
        F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
    )
    per_doc = docs.select(
        "source",
        "lang",
        F.size(t).cast("long").alias("nt"),
        F.size(F.array_distinct(t)).cast("long").alias("nd"),
        F.octet_length("text").cast("long").alias("nb"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.sum("nt").cast("long").alias("total_tokens"),
            F.sum("nb").cast("long").alias("total_bytes"),
            F.expr(
                "CAST(SUM(nt) * 1000000 div COUNT(*) AS BIGINT)"
            ).alias("mean_tokens_micro"),
            F.expr(
                "CAST(SUM(nd * 1000000 div nt) div COUNT(*) AS BIGINT)"
            ).alias("mean_ttr_micro"),
            F.expr(
                "CAST(SUM(CASE WHEN nt >= 100 THEN 1 ELSE 0 END)"
                " * 1000000 div COUNT(*) AS BIGINT)"
            ).alias("long_doc_share_micro"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# X275 — classifier calibration audit (reliability diagram + ECE): bin
# the X98 linear quality score into 10 confidence buckets and compare
# each bucket's mean confidence against its empirical positive rate
# (truth = the TTR >= 0.45 gate, X246's rb rater) — the standard check
# before a score is used as a sampling WEIGHT rather than a hard
# filter (an uncalibrated score over/under-samples silently). Every
# number is an exact integer after the one micro lift: bin membership,
# per-bin confidence and accuracy means, and the expected calibration
# error Σ n_b·|acc_b − conf_b| / N.
# --------------------------------------------------------------------------
@query(
    "q_calibration",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                          ' ') AS t
      FROM documents
    ),
    scored AS (
      SELECT doc_id,
             CAST(round(
               (list_aggregate(list_transform(t, tk ->
                  ((('0x' || substr(md5('qc-w1|' || CAST(
                      ('0x' || substr(md5('qc-v1|' || tk), 1, 6))::INTEGER
                      % 1024 AS VARCHAR)), 1, 6))::INTEGER % 2049) - 1024)
                  / 1024.0), 'sum')
                / len(t)) * 1000000) AS BIGINT) AS score_micro,
             CAST(len(list_distinct(t)) * 1000000 // len(t) AS BIGINT)
               >= 450000 AS label
      FROM tok
    ),
    binned AS (
      SELECT least(greatest((score_micro + 1000000) // 200000, 0), 9)
               AS bin,
             (score_micro + 1000000) // 2 AS conf_micro,
             CASE WHEN label THEN 1 ELSE 0 END AS pos
      FROM scored
    ),
    agg AS (
      SELECT bin,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(conf_micro) // count(*) AS BIGINT) AS mean_conf_micro,
             CAST(SUM(pos) * 1000000 // count(*) AS BIGINT) AS acc_micro
      FROM binned GROUP BY bin
    ),
    ece AS (
      SELECT CAST(SUM(n_docs * abs(acc_micro - mean_conf_micro))
                  // SUM(n_docs) AS BIGINT) AS ece_micro
      FROM agg
    )
    SELECT agg.bin, agg.n_docs, agg.mean_conf_micro, agg.acc_micro,
           CAST(abs(agg.acc_micro - agg.mean_conf_micro) AS BIGINT)
             AS gap_micro,
           ece.ece_micro
    FROM agg, ece
    ORDER BY agg.bin
    """,
)
def q_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X275 — reliability diagram of the hashed-BoW quality score
    against the TTR gate, plus ECE.

    Determinism: the classifier's dyadic weights make the per-doc
    score exact in any addition order (X98's argument); the micro
    lift rounds once; everything downstream — bins, per-bin means,
    |gaps|, ECE — is truncated integer arithmetic. Scale shape: one
    scan → codegen score projection → 10-group aggregate → 1-row ECE
    broadcast back onto the bins. Reference analog: none."""
    from mysql_cdc_to_http_spark.operators.classifier import score_tokens
    from mysql_cdc_to_http_spark.operators.curation import tokenize

    docs = load_table(spark, sf_dir, "documents")
    t = F.split(
        F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
    )
    scored = docs.select(
        "doc_id",
        tokenize(F.col("text")).alias("__toks"),
        t.alias("t"),
    ).select(
        F.round(score_tokens(F.col("__toks")) * 1000000)
        .cast("long")
        .alias("score_micro"),
        (
            F.expr(
                "CAST(size(array_distinct(t)) * 1000000 div size(t)"
                " AS BIGINT)"
            )
            >= 450000
        ).alias("label"),
    )
    binned = scored.select(
        F.expr(
            "least(greatest((score_micro + 1000000) div 200000, 0), 9)"
        ).alias("bin"),
        F.expr("(score_micro + 1000000) div 2").alias("conf_micro"),
        F.when(F.col("label"), 1).otherwise(0).alias("pos"),
    )
    agg = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.expr(
            "CAST(SUM(conf_micro) div COUNT(*) AS BIGINT)"
        ).alias("mean_conf_micro"),
        F.expr(
            "CAST(SUM(pos) * 1000000 div COUNT(*) AS BIGINT)"
        ).alias("acc_micro"),
    )
    ece = agg.agg(
        F.expr(
            "CAST(SUM(n_docs * abs(acc_micro - mean_conf_micro))"
            " div SUM(n_docs) AS BIGINT)"
        ).alias("ece_micro")
    )
    return (
        agg.crossJoin(F.broadcast(ece))
        .select(
            "bin",
            "n_docs",
            "mean_conf_micro",
            "acc_micro",
            F.abs(F.col("acc_micro") - F.col("mean_conf_micro"))
            .cast("long")
            .alias("gap_micro"),
            "ece_micro",
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# X286 — lexicon-category safety screen: per-category term-hit counts
# and rate-thresholded doc flags — the blocklist-lexicon filter stage
# every production data recipe runs before model-based safety scoring
# (cheap, transparent, auditable). Categories are pinned lists over
# the corpus vocabulary; a doc is flagged for a category when its
# hit RATE (hits per token) clears 20000 micro (2%) — rate, not raw
# count, so long docs aren't over-flagged (the X39/X223 rate
# discipline).
# --------------------------------------------------------------------------
_LEXICON = {
    "duplication": ("dup",),
    "performance": ("slow", "big"),
    "plumbing": ("hash", "scan", "batch"),
}
_LEX_RATE_MICRO = 20000


def _lex_sql_list(words) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


@query(
    "q_toxicity_lexicon",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                          ' ') AS t
      FROM documents
    ),
    cats AS (
      SELECT * FROM (VALUES
        {", ".join(f"('{c}', {_lex_sql_list(ws)})"
                   for c, ws in sorted(_LEXICON.items()))})
        AS v(category, words)
    ),
    scored AS (
      SELECT c.category, d.doc_id,
             CAST(len(list_filter(d.t, w -> list_contains(c.words, w)))
                  AS BIGINT) AS hits,
             CAST(len(d.t) AS BIGINT) AS n_tokens
      FROM tok d CROSS JOIN cats c
    )
    SELECT category,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(hits) AS BIGINT) AS total_hits,
           CAST(SUM(CASE WHEN hits * 1000000 >=
                         {_LEX_RATE_MICRO} * n_tokens
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           CAST(SUM(CASE WHEN hits * 1000000 >=
                         {_LEX_RATE_MICRO} * n_tokens
                    THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
             AS flagged_share_micro
    FROM scored GROUP BY category ORDER BY category
    """,
)
def q_toxicity_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X286 — blocklist-lexicon screen: per-category hit totals,
    rate-thresholded flag counts, and the flagged share.

    Exactness: hit and token counts are integers; the rate gate is a
    cross-multiplied integer comparison (never a float division — the
    q_seasonal_anomaly rule); the share is one truncated micro-unit
    division. Scale shape: the lexicon is a literal broadcast (3
    category rows); per-doc scoring is a row-local higher-order
    filter inside codegen (the category cross is lexicon-sized, not
    corpus-squared); one category-keyed aggregate with map-side
    partials ends the plan. Growing the lexicon to production size
    (thousands of terms) keeps the same shape — the filter becomes a
    broadcast-set membership, still row-local."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.split(
        F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
    )
    cats = spark.createDataFrame(
        [(c, list(ws)) for c, ws in sorted(_LEXICON.items())],
        "category string, words array<string>",
    )
    scored = (
        docs.select("doc_id", t.alias("t"))
        .crossJoin(F.broadcast(cats))
        .select(
            "category",
            F.expr(
                "CAST(size(filter(t, w -> array_contains(words, w)))"
                " AS BIGINT)"
            ).alias("hits"),
            F.size("t").cast("long").alias("n_tokens"),
        )
    )
    flagged = (
        F.col("hits") * 1000000 >= F.lit(_LEX_RATE_MICRO) * F.col("n_tokens")
    ).cast("long")
    return (
        scored.groupBy("category")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("hits").cast("long").alias("total_hits"),
            F.sum(flagged).cast("long").alias("n_flagged"),
            F.expr(
                f"CAST(SUM(CASE WHEN hits * 1000000 >="
                f" {_LEX_RATE_MICRO} * n_tokens THEN 1 ELSE 0 END)"
                f" * 1000000 div count(1) AS BIGINT)"
            ).alias("flagged_share_micro"),
        )
        .orderBy("category")
    )


# --------------------------------------------------------------------------
# X293 — classifier operating-point sweep: precision/recall/F1 at a
# fixed threshold grid over a quality score, with the F1-argmax row
# flagged — how a production filter picks its cutoff (X275's
# calibration ECE says whether scores are honest; this says where to
# cut). Score = TTR in micro (the X39 quality feature), labels =
# lang='en' (the corpus's dominant class, a deterministic stand-in
# for human labels). The grid is a constant 10-point ladder, so the
# sweep is a broadcast cross, never data-sized.
# --------------------------------------------------------------------------
@query(
    "q_threshold_sweep",
    oracle=r"""
    WITH scored AS (
      SELECT CAST(len(list_distinct(t)) * 1000000 // len(t) AS BIGINT)
               AS score,
             CAST(lang = 'en' AS INT) AS y
      FROM (
        SELECT string_split(trim(regexp_replace(lower(text), '\s+', ' ',
                            'g')), ' ') AS t, lang
        FROM documents
      )
    ),
    grid AS (SELECT unnest([0, 100000, 200000, 300000, 400000, 500000,
                            600000, 700000, 800000, 900000]) AS thr),
    cells AS (
      SELECT g.thr,
             CAST(SUM(CASE WHEN s.score >= g.thr AND s.y = 1
                      THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN s.score >= g.thr AND s.y = 0
                      THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(SUM(CASE WHEN s.score < g.thr AND s.y = 1
                      THEN 1 ELSE 0 END) AS BIGINT) AS fn
      FROM scored s CROSS JOIN grid g GROUP BY g.thr
    ),
    m AS (
      SELECT CAST(thr AS BIGINT) AS threshold_micro, tp, fp, fn,
             CASE WHEN tp + fp > 0
                  THEN tp * 1000000 // (tp + fp) END AS precision_micro,
             CASE WHEN tp + fn > 0
                  THEN tp * 1000000 // (tp + fn) END AS recall_micro,
             CASE WHEN 2 * tp + fp + fn > 0
                  THEN 2 * tp * 1000000 // (2 * tp + fp + fn)
                  END AS f1_micro
      FROM cells
    ),
    withmax AS (
      SELECT *, max(f1_micro) OVER () AS best_f1 FROM m
    ),
    withbest AS (
      SELECT *,
             min(CASE WHEN f1_micro = best_f1 THEN threshold_micro END)
               OVER () AS best_thr
      FROM withmax
    )
    SELECT threshold_micro, tp, fp, fn, precision_micro, recall_micro,
           f1_micro,
           f1_micro = best_f1 AND threshold_micro = best_thr AS is_best
    FROM withbest ORDER BY threshold_micro
    """,
)
def q_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X293 — P/R/F1 at a constant 10-threshold grid + F1-argmax flag
    (ties broken toward the lowest threshold).

    Exactness: all counts are integers; every ratio a truncated micro
    division; argmax is integer comparison with an explicit
    tie-break. Scale shape: one fact scan scored row-locally, a
    10-row broadcast cross, one threshold-keyed aggregate with
    map-side partials, then window math on 10 rows."""
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    t = F.split(
        F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
    )
    scored = docs.select(
        F.expr(
            "CAST(size(array_distinct(split(trim(regexp_replace("
            "lower(text), '\\\\s+', ' ')), ' '))) * 1000000"
            " div size(split(trim(regexp_replace(lower(text), '\\\\s+',"
            " ' ')), ' ')) AS BIGINT)"
        ).alias("score"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    grid = spark.createDataFrame(
        [(i * 100000,) for i in range(10)], "thr long"
    )
    cells = (
        scored.crossJoin(F.broadcast(grid))
        .groupBy("thr")
        .agg(
            F.sum(
                F.when(
                    (F.col("score") >= F.col("thr")) & (F.col("y") == 1),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("tp"),
            F.sum(
                F.when(
                    (F.col("score") >= F.col("thr")) & (F.col("y") == 0),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("fp"),
            F.sum(
                F.when(
                    (F.col("score") < F.col("thr")) & (F.col("y") == 1),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("fn"),
        )
    )
    m = cells.select(
        F.col("thr").alias("threshold_micro"),
        "tp",
        "fp",
        "fn",
        F.expr(
            "CAST(CASE WHEN tp + fp > 0 THEN tp * 1000000 div (tp + fp)"
            " END AS BIGINT)"
        ).alias("precision_micro"),
        F.expr(
            "CAST(CASE WHEN tp + fn > 0 THEN tp * 1000000 div (tp + fn)"
            " END AS BIGINT)"
        ).alias("recall_micro"),
        F.expr(
            "CAST(CASE WHEN 2 * tp + fp + fn > 0 THEN"
            " 2 * tp * 1000000 div (2 * tp + fp + fn) END AS BIGINT)"
        ).alias("f1_micro"),
    )
    wall = W.partitionBy()
    best_f1 = F.max("f1_micro").over(wall)
    best_thr = F.min(
        F.when(F.col("f1_micro") == best_f1, F.col("threshold_micro"))
    ).over(wall)
    return m.select(
        "*",
        (
            (F.col("f1_micro") == best_f1)
            & (F.col("threshold_micro") == best_thr)
        ).alias("is_best"),
    ).orderBy("threshold_micro")


# --------------------------------------------------------------------------
# X294 — lift / gains table by score decile: rank docs by the quality
# score, cut into 10 equal-count bins, report per-decile and
# cumulative positive capture vs the random baseline — the targeting
# curve ("the top 20% of the corpus by score holds X% of the en
# docs") that data-selection recipes read before fixing a budget
# (X229's DSIR picks BY distribution; this audits any scalar score).
# Deciles use ntile over (score desc, doc_id) — a total order, so the
# binning is engine-exact.
# --------------------------------------------------------------------------
@query(
    "q_lift_table",
    oracle=r"""
    WITH scored AS (
      SELECT doc_id,
             CAST(len(list_distinct(t)) * 1000000 // len(t) AS BIGINT)
               AS score,
             CAST(lang = 'en' AS INT) AS y
      FROM (
        SELECT doc_id, lang,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ',
                            'g')), ' ') AS t
        FROM documents
      )
    ),
    binned AS (
      SELECT y, ntile(10) OVER (ORDER BY score DESC, doc_id) AS decile
      FROM scored
    ),
    cells AS (
      SELECT CAST(decile AS INT) AS decile,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(y) AS BIGINT) AS n_pos
      FROM binned GROUP BY decile
    ),
    tot AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
             CAST(SUM(n_pos) AS BIGINT) AS pos_total
      FROM cells
    ),
    cum AS (
      SELECT decile, n_docs, n_pos,
             SUM(n_docs) OVER (ORDER BY decile) AS cum_n,
             SUM(n_pos) OVER (ORDER BY decile) AS cum_pos
      FROM cells
    )
    SELECT c.decile, c.n_docs, c.n_pos,
           CAST(c.cum_pos AS BIGINT) AS cum_pos,
           CAST(c.cum_pos * 1000000 // t.pos_total AS BIGINT)
             AS capture_micro,
           CAST(c.cum_pos * t.n_total * 1000000
                // (c.cum_n * t.pos_total) AS BIGINT) AS lift_micro
    FROM cum c, tot t
    ORDER BY c.decile
    """,
)
def q_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X294 — gains/lift by score decile (positives = lang='en').

    Exactness: the decile cut is ntile over a total order; counts are
    integers, capture and lift truncated micro divisions (lift's
    numerator c.cum_pos·n_total·1e6 stays far inside DECIMAL(38)).
    Scale shape: scoring is row-local; ntile is the X141 rank class
    (at production scale swap for grouped_ranks' two-level slice —
    same output, no single-task sort); then a 10-row cumulative
    window and a broadcast 1-row total."""
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        F.expr(
            "CAST(size(array_distinct(split(trim(regexp_replace("
            "lower(text), '\\\\s+', ' ')), ' '))) * 1000000"
            " div size(split(trim(regexp_replace(lower(text), '\\\\s+',"
            " ' ')), ' ')) AS BIGINT)"
        ).alias("score"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    binned = scored.select(
        "y",
        F.ntile(10)
        .over(W.orderBy(F.desc("score"), F.asc("doc_id")))
        .cast("int")
        .alias("decile"),
    )
    cells = binned.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    tot = cells.agg(
        F.sum("n_docs").cast("long").alias("n_total"),
        F.sum("n_pos").cast("long").alias("pos_total"),
    )
    wc = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    cum = cells.select(
        "decile",
        "n_docs",
        "n_pos",
        F.sum("n_docs").over(wc).cast("long").alias("cum_n"),
        F.sum("n_pos").over(wc).cast("long").alias("cum_pos"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_docs",
            "n_pos",
            "cum_pos",
            F.expr(
                "CAST(cum_pos * 1000000 div pos_total AS BIGINT)"
            ).alias("capture_micro"),
            F.expr(
                "CAST(CAST(cum_pos AS DECIMAL(38,0)) * n_total * 1000000"
                " div (CAST(cum_n AS DECIMAL(38,0)) * pos_total)"
                " AS BIGINT)"
            ).alias("lift_micro"),
        )
        .orderBy("decile")
    )


# --------------------------------------------------------------------------
# X295 — exact ROC AUC via the rank-sum identity AUC = U/(n1·n2):
# ties contribute 1/2 through average ranks, so the X292 double-rank
# machinery gives an EXACT integer AUC with zero FP — the standard
# scalar next to X293's operating points and X275's calibration.
# Score = TTR micro, positives = lang='en' (same fixture as X293/294
# so the three eval tables read together).
# --------------------------------------------------------------------------
@query(
    "q_auc_roc",
    oracle=r"""
    WITH scored AS (
      SELECT CAST(len(list_distinct(t)) * 1000000 // len(t) AS BIGINT)
               AS score,
             CAST(lang = 'en' AS INT) AS y
      FROM (
        SELECT string_split(trim(regexp_replace(lower(text), '\s+', ' ',
                            'g')), ' ') AS t, lang
        FROM documents
      )
    ),
    pooled AS (
      SELECT score,
             CAST(SUM(y) AS HUGEINT) AS c1,
             CAST(SUM(1 - y) AS HUGEINT) AS c0
      FROM scored GROUP BY score
    ),
    cum AS (
      SELECT c1, c0, c1 + c0 AS c,
             COALESCE(SUM(c1 + c0) OVER (
               ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS f_prev
      FROM pooled
    ),
    agg AS (
      SELECT CAST(SUM(c1) AS HUGEINT) AS n1,
             CAST(SUM(c0) AS HUGEINT) AS n0,
             CAST(SUM(c1 * (2 * f_prev + c + 1)) AS HUGEINT)
               AS r1_double
      FROM cum
    )
    SELECT CAST(n1 AS BIGINT) AS n_pos, CAST(n0 AS BIGINT) AS n_neg,
           CAST((r1_double - n1 * (n1 + 1)) AS BIGINT) AS u_double,
           CAST((r1_double - n1 * (n1 + 1)) * 1000000 // (2 * n1 * n0)
                AS BIGINT) AS auc_micro
    FROM agg
    """,
)
def q_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X295 — exact AUC (rank-sum identity, tie-aware).

    Exactness: double-ranks make tied scores contribute exactly 1/2
    per positive-negative tie pair; AUC is one truncated micro
    division of exact integers — no trapezoid floats, no sampling.
    Scale shape: one score-keyed aggregate with map-side partials, a
    cumulative window over DISTINCT scores (quantization-bounded —
    TTR micro has ≤1e6 cells), a 1-row statistic."""
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        F.expr(
            "CAST(size(array_distinct(split(trim(regexp_replace("
            "lower(text), '\\\\s+', ' ')), ' '))) * 1000000"
            " div size(split(trim(regexp_replace(lower(text), '\\\\s+',"
            " ' ')), ' ')) AS BIGINT)"
        ).alias("score"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    pooled = scored.groupBy("score").agg(
        F.sum("y").cast("decimal(38,0)").alias("c1"),
        F.sum(F.lit(1) - F.col("y")).cast("decimal(38,0)").alias("c0"),
    )
    w = W.orderBy("score").rowsBetween(W.unboundedPreceding, -1)
    cum = pooled.select(
        "c1",
        "c0",
        (F.col("c1") + F.col("c0")).alias("c"),
        F.coalesce(
            F.sum(F.col("c1") + F.col("c0")).over(w),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("f_prev"),
    )
    agg = cum.agg(
        F.sum("c1").cast("decimal(38,0)").alias("n1"),
        F.sum("c0").cast("decimal(38,0)").alias("n0"),
        F.sum(
            F.col("c1") * (F.lit(2) * F.col("f_prev") + F.col("c") + 1)
        )
        .cast("decimal(38,0)")
        .alias("r1_double"),
    )
    return agg.select(
        F.col("n1").cast("long").alias("n_pos"),
        F.col("n0").cast("long").alias("n_neg"),
        F.expr("CAST(r1_double - n1 * (n1 + 1) AS BIGINT)").alias(
            "u_double"
        ),
        F.expr(
            "CAST((r1_double - n1 * (n1 + 1)) * 1000000"
            " div (2 * n1 * n0) AS BIGINT)"
        ).alias("auc_micro"),
    )


# --------------------------------------------------------------------------
# X296 — selection-rate fairness audit (the four-fifths rule): after a
# quality gate (the X293 fixture's TTR >= 0.45 cut), per-group (lang)
# selection rates and each group's disparate-impact ratio against the
# highest-rate group — the governance table a data-selection recipe
# files next to its dataset card (X266). Cross-multiplied integers;
# the 80% flag never divides.
# --------------------------------------------------------------------------
@query(
    "q_fairness_audit",
    oracle=r"""
    WITH scored AS (
      SELECT lang,
             CAST(CAST(len(list_distinct(t)) * 1000000 // len(t)
                       AS BIGINT) >= 450000 AS INT) AS sel
      FROM (
        SELECT lang,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ',
                            'g')), ' ') AS t
        FROM documents
      )
    ),
    cells AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(sel) AS BIGINT) AS n_selected
      FROM scored GROUP BY lang
    ),
    rated AS (
      SELECT *, n_selected * 1000000 // n_docs AS rate_micro
      FROM cells
    ),
    mx AS (
      SELECT lang AS ref_lang, n_selected AS ref_sel, n_docs AS ref_n
      FROM rated ORDER BY rate_micro DESC, lang LIMIT 1
    )
    SELECT r.lang, r.n_docs, r.n_selected,
           CAST(r.rate_micro AS BIGINT) AS rate_micro,
           m.ref_lang,
           CAST(CASE WHEN m.ref_sel > 0 THEN
                CAST(r.n_selected AS HUGEINT) * m.ref_n * 1000000
                // (CAST(r.n_docs AS HUGEINT) * m.ref_sel)
                END AS BIGINT) AS impact_ratio_micro,
           CAST(r.n_selected AS HUGEINT) * m.ref_n * 5 >=
             CAST(r.n_docs AS HUGEINT) * m.ref_sel * 4
             AS passes_four_fifths
    FROM rated r, mx m
    ORDER BY r.lang
    """,
)
def q_fairness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X296 — per-group selection rate + disparate impact vs the
    highest-rate group, with the four-fifths flag.

    Exactness: rates and impact ratios are truncated micro divisions
    of integer counts; the 4/5 gate is a cross-multiplied integer
    comparison (never a float ratio). Scale shape: one fact scan
    scored row-locally, one group-count aggregate, a 1-row
    highest-rate reference broadcast back — group-table-sized
    end-to-end after the scan."""
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "lang",
        (
            F.expr(
                "CAST(size(array_distinct(split(trim(regexp_replace("
                "lower(text), '\\\\s+', ' ')), ' '))) * 1000000"
                " div size(split(trim(regexp_replace(lower(text),"
                " '\\\\s+', ' ')), ' ')) AS BIGINT)"
            )
            >= 450000
        )
        .cast("int")
        .alias("sel"),
    )
    cells = scored.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("sel").cast("long").alias("n_selected"),
    )
    rated = cells.withColumn(
        "rate_micro",
        F.expr("CAST(n_selected * 1000000 div n_docs AS BIGINT)"),
    )
    mx = (
        rated.orderBy(F.desc("rate_micro"), F.asc("lang"))
        .limit(1)
        .select(
            F.col("lang").alias("ref_lang"),
            F.col("n_selected").alias("ref_sel"),
            F.col("n_docs").alias("ref_n"),
        )
    )
    return (
        rated.crossJoin(F.broadcast(mx))
        .select(
            "lang",
            "n_docs",
            "n_selected",
            "rate_micro",
            "ref_lang",
            F.expr(
                "CAST(CASE WHEN ref_sel > 0 THEN"
                " CAST(n_selected AS DECIMAL(38,0)) * ref_n * 1000000"
                " div (CAST(n_docs AS DECIMAL(38,0)) * ref_sel)"
                " END AS BIGINT)"
            ).alias("impact_ratio_micro"),
            F.expr(
                "CAST(n_selected AS DECIMAL(38,0)) * ref_n * 5 >="
                " CAST(n_docs AS DECIMAL(38,0)) * ref_sel * 4"
            ).alias("passes_four_fifths"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# X301 — Pearson chi-square test of independence: language × length
# bucket — "is document length independent of language?", the
# contingency-table audit a curation pass runs before per-language
# length filters (a dependent table means one shared length cutoff
# skews the language mix; X52's q_domain_mix then needs per-language
# budgets). Exact integers: with E = r·c/N, the cell contribution
# (O−E)²/E equals (O·N − r·c)² / (r·c·N) — one truncated micro
# division per cell on non-negative integers, no float E anywhere.
# The 5% critical value comes from the published Pearson table
# (dof 1..12), so the verdict is a pure integer comparison.
# --------------------------------------------------------------------------
_CHI2_CRIT_MILLI = (
    "CASE dof WHEN 1 THEN 3841 WHEN 2 THEN 5991 WHEN 3 THEN 7815"
    " WHEN 4 THEN 9488 WHEN 5 THEN 11070 WHEN 6 THEN 12592"
    " WHEN 7 THEN 14067 WHEN 8 THEN 15507 WHEN 9 THEN 16919"
    " WHEN 10 THEN 18307 WHEN 11 THEN 19675 WHEN 12 THEN 21026 END"
)


@query(
    "q_chi2_independence",
    oracle=f"""
    WITH obs AS (
      SELECT lang,
             CASE WHEN n_chars < 250 THEN 'short'
                  WHEN n_chars < 400 THEN 'mid'
                  ELSE 'long' END AS bucket,
             CAST(count(*) AS HUGEINT) AS o
      FROM documents GROUP BY 1, 2
    ),
    rt AS (SELECT lang, CAST(sum(o) AS HUGEINT) AS r FROM obs GROUP BY 1),
    ct AS (SELECT bucket, CAST(sum(o) AS HUGEINT) AS c FROM obs GROUP BY 1),
    nt AS (SELECT CAST(sum(o) AS HUGEINT) AS n FROM obs),
    -- densify: a chi-square runs over the FULL R x C grid; zero cells
    -- contribute r*c/N each and dropping them understates the statistic
    cells AS (
      SELECT rt.lang, ct.bucket, COALESCE(obs.o, 0::HUGEINT) AS o, r, c
      FROM rt CROSS JOIN ct
      LEFT JOIN obs ON obs.lang = rt.lang AND obs.bucket = ct.bucket
    ),
    dims AS (
      SELECT CAST(((SELECT count(*) FROM rt) - 1)
                  * ((SELECT count(*) FROM ct) - 1) AS BIGINT) AS dof
    ),
    contrib AS (
      SELECT cells.lang, cells.bucket, o, r, c, n,
             (o * n - r * c) * (o * n - r * c) * 1000000
               // (r * c * n) AS cm
      FROM cells CROSS JOIN nt
    )
    SELECT lang, bucket, CAST(o AS BIGINT) AS o,
           CAST(cm AS BIGINT) AS contrib_micro,
           CAST(sum(cm) OVER () AS BIGINT) AS chi2_micro,
           dof,
           CAST({_CHI2_CRIT_MILLI} AS BIGINT) AS crit_milli,
           sum(cm) OVER () > CAST({_CHI2_CRIT_MILLI} AS HUGEINT) * 1000
             AS dependent
    FROM contrib CROSS JOIN dims
    ORDER BY lang, bucket
    """,
)
def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X301 — chi-square independence test, language × length bucket.

    Exactness: O/r/c/N are exact integer counts; each cell's
    contribution is (O·N − r·c)²·1e6 div (r·c·N) — an identity for
    N·(O−E)²/E·... with E = r·c/N multiplied out so nothing fractional
    ever materializes; the truncating div runs on non-negative
    DECIMAL(38) (Spark div == DuckDB // there). The 5% gate compares
    the micro sum against the published critical value in milli×1000 —
    integers on both sides.

    Scale shape: one fact-sized groupBy(lang, bucket) with map-side
    partials; everything after (row/col totals, the window sum, the
    verdict) runs on the grid-sized cells table (#langs × 3 rows).
    The unpartitioned window is over that grid, not the fact table.
    Presentation sort is grid-bounded (allowlist class a)."""
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    obs = (
        docs.select(
            "lang",
            F.when(F.col("n_chars") < 250, "short")
            .when(F.col("n_chars") < 400, "mid")
            .otherwise("long")
            .alias("bucket"),
        )
        .groupBy("lang", "bucket")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("o"))
    )
    rt = obs.groupBy("lang").agg(F.sum("o").cast("decimal(38,0)").alias("r"))
    ct = obs.groupBy("bucket").agg(
        F.sum("o").cast("decimal(38,0)").alias("c")
    )
    nt = obs.agg(F.sum("o").cast("decimal(38,0)").alias("n"))
    # densify to the full R x C grid: zero cells contribute r*c/N each
    # and dropping them understates chi-square (caught by the planted
    # 2x2 perfect-association test, where chi2 must equal N exactly)
    cells = (
        rt.select("lang")
        .crossJoin(ct.select("bucket"))
        .join(obs, ["lang", "bucket"], "left")
        .withColumn("o", F.coalesce(F.col("o"), F.lit(0).cast("decimal(38,0)")))
    )
    dims = rt.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    ).crossJoin(ct.agg(F.count(F.lit(1)).cast("long").alias("n_cols"))).select(
        ((F.col("n_rows") - 1) * (F.col("n_cols") - 1)).alias("dof")
    )
    contrib = (
        cells.join(rt, "lang")
        .join(ct, "bucket")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(dims))
        .withColumn(
            "cm",
            F.expr(
                "(o * n - r * c) * (o * n - r * c) * 1000000"
                " div (r * c * n)"
            ),
        )
    )
    chi2 = F.sum("cm").over(W.partitionBy())
    return contrib.select(
        "lang",
        "bucket",
        F.col("o").cast("long").alias("o"),
        F.col("cm").cast("long").alias("contrib_micro"),
        chi2.cast("long").alias("chi2_micro"),
        "dof",
        F.expr(_CHI2_CRIT_MILLI).cast("long").alias("crit_milli"),
        (
            chi2
            > F.expr(_CHI2_CRIT_MILLI).cast("decimal(38,0)") * 1000
        ).alias("dependent"),
    ).orderBy("lang", "bucket")


# --------------------------------------------------------------------------
# X302 — sample-ratio-mismatch (SRM) check on the X48 deterministic
# split: a goodness-of-fit chi-square of observed train/val/test
# counts against the designed 80/10/10 — the standard pre-analysis
# gate on any split/experiment assignment (an SRM means the
# assignment itself is broken and every downstream metric is suspect).
# Same exact-integer identity as X301: with E = N·p/100, the
# contribution (O−E)²/E = (100·O − N·p)² / (100·N·p).
# --------------------------------------------------------------------------
@query(
    "q_srm_check",
    oracle="""
    WITH b AS (
      SELECT CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM (
        SELECT ('0x' || substr(md5('split-v2|' || CAST(doc_id AS VARCHAR)),
                               1, 6))::INTEGER % 100 AS bucket
        FROM documents
      )
    ),
    o AS (SELECT split, CAST(count(*) AS HUGEINT) AS o FROM b GROUP BY 1),
    nt AS (SELECT CAST(sum(o) AS HUGEINT) AS n FROM o),
    contrib AS (
      SELECT split, o, n,
             CAST(CASE split WHEN 'train' THEN 80 ELSE 10 END
                  AS HUGEINT) AS p,
             (100 * o - n * CAST(CASE split WHEN 'train' THEN 80
                                 ELSE 10 END AS HUGEINT))
             * (100 * o - n * CAST(CASE split WHEN 'train' THEN 80
                                   ELSE 10 END AS HUGEINT)) * 1000000
             // (100 * n * CAST(CASE split WHEN 'train' THEN 80
                                ELSE 10 END AS HUGEINT)) AS cm
      FROM o CROSS JOIN nt
    )
    SELECT split, CAST(o AS BIGINT) AS n_docs,
           CAST(p AS BIGINT) AS expected_pct,
           CAST(cm AS BIGINT) AS contrib_micro,
           CAST(sum(cm) OVER () AS BIGINT) AS chi2_micro,
           CAST(2 AS BIGINT) AS dof,
           sum(cm) OVER () > 5991 * 1000 AS srm
    FROM contrib
    ORDER BY split
    """,
)
def q_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X302 — SRM goodness-of-fit chi-square on the hash split.

    Exactness: observed counts are exact; with E = N·p/100 the cell
    contribution is (100·O − N·p)²·1e6 div (100·N·p) — multiplied out
    so E never materializes as a fraction; truncating div on
    non-negative DECIMAL(38). The gate is the published 5% critical
    value for dof 2 (5.991) held in milli×1000 — integer comparison.

    Scale shape: the md5 split assignment is row-local (no shuffle
    beyond the 3-group aggregate with map-side partials); everything
    after runs on the 3-row split table. Presentation sort is 3-row
    bounded (allowlist class a)."""
    from pyspark.sql.window import Window as W

    from mysql_cdc_to_http_spark.operators.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents")
    o = (
        hash_split(docs, "doc_id")
        .groupBy("split")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("o"))
    )
    nt = o.agg(F.sum("o").cast("decimal(38,0)").alias("n"))
    contrib = (
        o.crossJoin(F.broadcast(nt))
        .withColumn(
            "p",
            F.when(F.col("split") == "train", F.lit(80))
            .otherwise(F.lit(10))
            .cast("decimal(38,0)"),
        )
        .withColumn(
            "cm",
            F.expr(
                "(100 * o - n * p) * (100 * o - n * p) * 1000000"
                " div (100 * n * p)"
            ),
        )
    )
    chi2 = F.sum("cm").over(W.partitionBy())
    return contrib.select(
        "split",
        F.col("o").cast("long").alias("n_docs"),
        F.col("p").cast("long").alias("expected_pct"),
        F.col("cm").cast("long").alias("contrib_micro"),
        chi2.cast("long").alias("chi2_micro"),
        F.lit(2).cast("long").alias("dof"),
        (chi2 > F.lit(5991 * 1000)).alias("srm"),
    ).orderBy("split")


# --------------------------------------------------------------------------
# X305 — Jensen-Shannon divergence of each source's unigram
# distribution from the corpus mix — the bounded (0..ln 2), symmetric
# "how far is this source from the blend" score that X52's domain-mix
# planner and X229's DSIR weights read next (PSI/X106 covers numeric
# drift; this is its text-distribution twin). Support is the corpus
# top-2000 vocabulary (absolute cap, the X281 rule) and both
# distributions are conditioned on it, so the support — and the cost
# of everything after the unigram aggregate — is vocab-sized at any
# corpus size.
# --------------------------------------------------------------------------
@query(
    "q_js_divergence",
    oracle=r"""
    WITH tok AS (
      SELECT source,
             unnest(string_split(trim(regexp_replace(lower(text), '\s+',
                    ' ', 'g')), ' ')) AS w
      FROM documents
    ),
    sw AS (
      SELECT source, w, CAST(count(*) AS HUGEINT) AS a
      FROM tok GROUP BY 1, 2
    ),
    vocab AS (
      SELECT w, c FROM (
        SELECT w, CAST(sum(a) AS HUGEINT) AS c,
               row_number() OVER (ORDER BY sum(a) DESC, w) AS r
        FROM sw GROUP BY w
      ) WHERE r <= 2000
    ),
    dense AS (
      SELECT s.source, v.w, v.c, COALESCE(sw.a, 0::HUGEINT) AS a
      FROM (SELECT DISTINCT source FROM sw) s
      CROSS JOIN vocab v
      LEFT JOIN sw ON sw.source = s.source AND sw.w = v.w
    ),
    tot AS (
      SELECT source, CAST(sum(a) AS HUGEINT) AS ta,
             CAST(sum(c) AS HUGEINT) AS tc
      FROM dense GROUP BY source
    ),
    terms AS (
      SELECT d.source,
             CASE WHEN a > 0 THEN
               a * (round(ln(CAST(2 * a * tc AS DOUBLE)) * 1000)
                    - round(ln(CAST(a * tc + c * ta AS DOUBLE)) * 1000))
             ELSE 0 END AS sp,
             c * (round(ln(CAST(2 * c * ta AS DOUBLE)) * 1000)
                  - round(ln(CAST(a * tc + c * ta AS DOUBLE)) * 1000)) AS sq
      FROM dense d JOIN tot USING (source)
    ),
    agg AS (
      SELECT source, CAST(sum(sp) AS HUGEINT) AS sp,
             CAST(sum(sq) AS HUGEINT) AS sq
      FROM terms GROUP BY source
    )
    SELECT agg.source,
           CAST((SELECT count(*) FROM vocab) AS BIGINT) AS n_terms,
           CAST(ta AS BIGINT) AS source_tokens,
           CAST(CASE WHEN sp * tc + sq * ta < 0 THEN -1 ELSE 1 END
                * (abs(sp * tc + sq * ta) * 1000
                   // (2 * ta * tc)) AS BIGINT) AS js_micro
    FROM agg JOIN tot USING (source)
    ORDER BY source
    """,
)
def q_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X305 — per-source JS divergence from the corpus unigram mix.

    Exactness: counts a_i, c_i and totals A, C are exact integers;
    each KL term's log ratio is split as ln(2·a·C) − ln(a·C + c·A) —
    two per-value milli-quantized ln calls on INTEGER arguments (the
    X281 rule: round absorbs libm ulps), weighted by the integer count
    and summed exactly; the final JSD = (S_P·C + S_Q·A)/(2·A·C) is one
    sign-separated truncating micro div. Zero cells are densified
    (a_i = 0 rows still carry their Q-side mass — the X301 lesson).

    Scale shape: one fact-sized (source, term) aggregate with map-side
    partials; the vocabulary cap (top-2000 by corpus frequency,
    deterministic tie) bounds the support, so the dense grid is
    sources × 2000 and every later stage is grid-sized. At 100 TB the
    unigram aggregate is the scan-shaped cost."""
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    sw = (
        docs.select(
            "source",
            F.explode(
                F.split(
                    F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")),
                    " ",
                )
            ).alias("w"),
        )
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("a"))
    )
    vocab = (
        sw.groupBy("w")
        .agg(F.sum("a").cast("decimal(38,0)").alias("c"))
        .withColumn(
            "r",
            F.row_number().over(W.partitionBy().orderBy(F.desc("c"), "w")),
        )
        .filter(F.col("r") <= 2000)
        .drop("r")
    )
    dense = (
        sw.select("source")
        .distinct()
        .crossJoin(F.broadcast(vocab))
        .join(sw, ["source", "w"], "left")
        .withColumn("a", F.coalesce(F.col("a"), F.lit(0).cast("decimal(38,0)")))
    )
    tot = dense.groupBy("source").agg(
        F.sum("a").cast("decimal(38,0)").alias("ta"),
        F.sum("c").cast("decimal(38,0)").alias("tc"),
    )
    qln = (
        lambda e: F.round(F.log(F.expr(e).cast("double")) * 1000)
    )  # noqa: E731
    terms = dense.join(tot, "source").select(
        "source",
        F.when(
            F.col("a") > 0,
            F.col("a").cast("decimal(38,0)")
            * (qln("2 * a * tc") - qln("a * tc + c * ta")).cast(
                "decimal(38,0)"
            ),
        )
        .otherwise(F.lit(0).cast("decimal(38,0)"))
        .alias("sp"),
        (
            F.col("c").cast("decimal(38,0)")
            * (qln("2 * c * ta") - qln("a * tc + c * ta")).cast(
                "decimal(38,0)"
            )
        ).alias("sq"),
    )
    agg = terms.groupBy("source").agg(
        F.sum("sp").cast("decimal(38,0)").alias("sp"),
        F.sum("sq").cast("decimal(38,0)").alias("sq"),
    )
    nv = vocab.agg(F.count(F.lit(1)).cast("long").alias("n_terms"))
    return (
        agg.join(tot, "source")
        .crossJoin(F.broadcast(nv))
        .select(
            "source",
            "n_terms",
            F.col("ta").cast("long").alias("source_tokens"),
            F.expr(
                "CAST(CASE WHEN sp * tc + sq * ta < 0 THEN -1 ELSE 1 END"
                " * (abs(sp * tc + sq * ta) * 1000"
                "    div (2 * ta * tc)) AS BIGINT)"
            ).alias("js_micro"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# X317 — contamination operating curve: X50's benchmark-overlap
# decontamination re-run at gram sizes n ∈ {3, 5, 8, 13} — the curve
# that justifies the production n (small n over-flags shared idiom,
# large n only catches verbatim inclusion; GPT-3 used 13-gram exact
# collision, most open pipelines 5-8). The flag rule is the integer
# cross-multiplication matched·20 > total (no 0.05 double anywhere),
# and the clamped-partial-gram convention matches _TOK_CTE exactly.
# --------------------------------------------------------------------------
@query(
    "q_contamination_sweep",
    oracle=f"""
    WITH {_TOK_CTE},
    ns AS (SELECT unnest([3, 5, 8, 13]) AS n),
    grams AS (
      SELECT doc_id, source, n,
             list_distinct(list_transform(
               range(1, greatest(len(t) - (n - 1), 1) + 1),
               i -> array_to_string(t[i:i+n-1], ' '))) AS gs
      FROM tok CROSS JOIN ns
    ),
    bench AS (
      SELECT DISTINCT n, unnest(gs) AS ngram
      FROM grams WHERE source = 'src0'
    ),
    cg AS (
      SELECT doc_id, n, unnest(gs) AS ngram
      FROM grams WHERE source <> 'src0'
    ),
    hits AS (
      SELECT cg.n, cg.doc_id,
             CAST(count(*) AS HUGEINT)       AS total,
             CAST(count(b.ngram) AS HUGEINT) AS matched
      FROM cg LEFT JOIN bench b ON b.n = cg.n AND b.ngram = cg.ngram
      GROUP BY cg.n, cg.doc_id
    ),
    bn AS (
      SELECT n, CAST(count(DISTINCT ngram) AS BIGINT) AS bench_grams
      FROM bench GROUP BY n
    )
    SELECT hits.n AS n,
           bn.bench_grams,
           CAST(count(*) AS BIGINT) AS docs_checked,
           CAST(SUM(CASE WHEN matched * 20 > total THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_flagged,
           CAST(CAST(SUM(CASE WHEN matched * 20 > total THEN 1 ELSE 0 END)
                     AS HUGEINT) * 1000000
                // CAST(count(*) AS HUGEINT) AS BIGINT)
             AS flagged_rate_micro,
           CAST(CAST(SUM(matched) AS HUGEINT) * 1000000
                // CAST(SUM(total) AS HUGEINT) AS BIGINT)
             AS mean_overlap_micro
    FROM hits JOIN bn USING (n)
    GROUP BY hits.n, bn.bench_grams
    ORDER BY n
    """,
)
def q_contamination_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X317 — decontamination flag rates at gram sizes 3/5/8/13.

    Exactness: per-(n, doc) distinct-gram overlap counts are exact;
    the 5% flag is the integer cross-multiplication matched·20 >
    total (the exact form of X50's double compare — chosen here so
    boundary docs cannot split engines); rates are truncating micro
    divs of exact sums.

    Scale shape: the gram build runs once per n over the shared token
    arrays (the 4× gram construction IS the work being measured — at
    scale each n is one map-side pass); each n's benchmark set is the
    src0 slice (broadcast-joined membership, the X50 shape); per-doc
    hit counts combine map-side; output is 4 rows. Presentation sort
    is 4-row bounded (allowlist class a)."""
    from pyspark.sql.window import Window as W  # noqa: F401  (house import)

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "source",
        F.split(
            F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
        ).alias("t"),
    )
    grams = tok.crossJoin(
        F.broadcast(
            tok.sparkSession.createDataFrame([(3,), (5,), (8,), (13,)], "n int")
        )
    ).select(
        "doc_id",
        "source",
        "n",
        F.expr(
            "array_distinct(transform("
            " sequence(1, greatest(size(t) - (n - 1), 1)),"
            " i -> array_join(slice(t, i, n), ' ')))"
        ).alias("gs"),
    )
    bench = (
        grams.filter(F.col("source") == "src0")
        .select("n", F.explode("gs").alias("ngram"))
        .distinct()
    )
    cg = grams.filter(F.col("source") != "src0").select(
        "doc_id", "n", F.explode("gs").alias("ngram")
    )
    hits = (
        cg.join(
            bench.withColumn("hit", F.lit(1)), ["n", "ngram"], "left"
        )
        .groupBy("n", "doc_id")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("total"),
            F.count("hit").cast("decimal(38,0)").alias("matched"),
        )
    )
    bn = bench.groupBy("n").agg(
        F.countDistinct("ngram").cast("long").alias("bench_grams")
    )
    return (
        hits.groupBy("n")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("docs_checked_d"),
            F.sum(
                F.when(F.col("matched") * 20 > F.col("total"), 1).otherwise(0)
            )
            .cast("decimal(38,0)")
            .alias("flagged_d"),
            F.sum("matched").cast("decimal(38,0)").alias("sm"),
            F.sum("total").cast("decimal(38,0)").alias("st"),
        )
        .join(bn, "n")
        .select(
            "n",
            "bench_grams",
            F.col("docs_checked_d").cast("long").alias("docs_checked"),
            F.col("flagged_d").cast("long").alias("docs_flagged"),
            F.expr(
                "CAST(flagged_d * 1000000 div docs_checked_d AS BIGINT)"
            ).alias("flagged_rate_micro"),
            F.expr("CAST(sm * 1000000 div st AS BIGINT)").alias(
                "mean_overlap_micro"
            ),
        )
        .orderBy("n")
    )


# --------------------------------------------------------------------------
# X327-X330 — the 2x2/k-rater test battery over the SHARED rater gates
# (X246's rule gate ra and TTR gate rb): McNemar's paired test,
# Cramer's V association strength, Cochran's Q for k=3 binary
# raters, and the Woolf odds-ratio interval. One fact-sized counting
# aggregate each; every statistic is exact-integer (or an
# identical-input double behind a 6-dp round) per the X301 algebra
# discipline.
# --------------------------------------------------------------------------
# Shared oracle CTE: the X246 rater gates (rule gate + TTR gate).
_RATED_CTE = rf"""
tok2 AS (
  SELECT doc_id, n_chars,
         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                      ' ') AS t
  FROM documents
),
rated AS (
  SELECT doc_id, n_chars,
         (len(t) >= 50 AND
          len(list_distinct(list_intersect(t, {_KAPPA_STOPS_SQL})))
            >= 2) AS ra,
         (CAST(len(list_distinct(t)) * 1000000 // len(t) AS BIGINT)
            >= 450000) AS rb
  FROM tok2
)
"""


def _rated_gates(docs: DataFrame) -> DataFrame:
    """The X246 rater gates as columns (doc_id, n_chars, ra, rb) —
    shared by the X327-X330 test battery; mirrors q_rater_kappa's
    projections exactly (same split/trim/stopword/TTR algebra)."""
    t = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    return docs.select("doc_id", "n_chars", t.alias("t")).select(
        "doc_id",
        "n_chars",
        (
            (F.size("t") >= 50)
            & (
                F.size(
                    F.array_distinct(
                        F.array_intersect(
                            F.col("t"),
                            F.expr(_KAPPA_STOPS_SPARK),
                        )
                    )
                )
                >= 2
            )
        ).alias("ra"),
        (
            F.expr(
                "CAST(size(array_distinct(t)) * 1000000 div size(t)"
                " AS BIGINT)"
            )
            >= 450_000
        ).alias("rb"),
    )


def _rated_2x2(docs: DataFrame) -> DataFrame:
    """2x2 contingency counts (n, n11, n10, n01, n00) of the gates."""
    rated = _rated_gates(docs)
    return rated.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("ra") & F.col("rb")).cast("long"))
        .cast("long")
        .alias("n11"),
        F.sum((F.col("ra") & ~F.col("rb")).cast("long"))
        .cast("long")
        .alias("n10"),
        F.sum((~F.col("ra") & F.col("rb")).cast("long"))
        .cast("long")
        .alias("n01"),
        F.sum((~F.col("ra") & ~F.col("rb")).cast("long"))
        .cast("long")
        .alias("n00"),
    )


_2X2_CONT_SQL = """
cont AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (ra AND rb) AS BIGINT) AS n11,
         CAST(count(*) FILTER (ra AND NOT rb) AS BIGINT) AS n10,
         CAST(count(*) FILTER (NOT ra AND rb) AS BIGINT) AS n01,
         CAST(count(*) FILTER (NOT ra AND NOT rb) AS BIGINT) AS n00
  FROM rated
)
"""


@query(
    "q_mcnemar",
    oracle=f"""
    WITH {_RATED_CTE}, {_2X2_CONT_SQL}
    SELECT n, n11, n10, n01, n00,
           CAST(n10 + n01 AS BIGINT) AS n_discordant,
           CAST(CASE WHEN n10 + n01 > 0 THEN
                CAST(n10 - n01 AS HUGEINT) * (n10 - n01) * 1000000
                  // (n10 + n01) END AS BIGINT) AS mcnemar_micro,
           CAST(3841 AS BIGINT) AS crit_milli,
           CASE WHEN n10 + n01 > 0 THEN
                CAST(n10 - n01 AS HUGEINT) * (n10 - n01) * 1000000
                  // (n10 + n01) > 3841 * 1000
                ELSE FALSE END AS marginals_differ
    FROM cont
    """,
)
def q_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X327 — McNemar's test for PAIRED binary raters: do the rule
    gate and the TTR gate disagree symmetrically? Statistic
    (b−c)²/(b+c) over the discordant cells only — the right test when
    both raters score the SAME documents (a plain chi-square would
    ignore the pairing). dof 1, 5% critical value 3.841.

    Exactness: b, c are exact counts; the statistic is one truncated
    micro division of integer products (HUGEINT/DECIMAL(38) on the
    square to dodge overflow); zero discordant pairs → NULL statistic,
    FALSE verdict on both engines. Scale shape: one fact scan → 1-row
    counting aggregate → constant arithmetic; scan-bound at any
    corpus size. Reference analog: none (main.go has no analytics).
    """
    cont = _rated_2x2(load_table(spark, sf_dir, "documents"))
    stat = F.expr(
        "CASE WHEN n10 + n01 > 0 THEN"
        " CAST(CAST(n10 - n01 AS DECIMAL(38,0)) * (n10 - n01) * 1000000"
        " div (n10 + n01) AS BIGINT) END"
    )
    return cont.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.expr("CAST(n10 + n01 AS BIGINT)").alias("n_discordant"),
        stat.alias("mcnemar_micro"),
        F.lit(3841).cast("long").alias("crit_milli"),
        F.coalesce(stat > 3_841_000, F.lit(False)).alias(
            "marginals_differ"
        ),
    )


@query(
    "q_cramers_v",
    oracle=f"""
    WITH obs AS (
      SELECT lang,
             CASE WHEN n_chars < 250 THEN 'short'
                  WHEN n_chars < 400 THEN 'mid'
                  ELSE 'long' END AS bucket,
             CAST(count(*) AS HUGEINT) AS o
      FROM documents GROUP BY 1, 2
    ),
    rt AS (SELECT lang, CAST(sum(o) AS HUGEINT) AS r FROM obs GROUP BY 1),
    ct AS (SELECT bucket, CAST(sum(o) AS HUGEINT) AS c FROM obs GROUP BY 1),
    nt AS (SELECT CAST(sum(o) AS HUGEINT) AS n FROM obs),
    cells AS (
      SELECT rt.lang, ct.bucket, COALESCE(obs.o, 0::HUGEINT) AS o, r, c
      FROM rt CROSS JOIN ct
      LEFT JOIN obs ON obs.lang = rt.lang AND obs.bucket = ct.bucket
    ),
    dims AS (
      SELECT CAST((SELECT count(*) FROM rt) AS BIGINT) AS n_rows,
             CAST((SELECT count(*) FROM ct) AS BIGINT) AS n_cols
    ),
    chi AS (
      SELECT CAST(sum((o * n - r * c) * (o * n - r * c) * 1000000
                      // (r * c * n)) AS HUGEINT) AS chi2_micro,
             max(n) AS n
      FROM cells CROSS JOIN nt
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST((n_rows - 1) * (n_cols - 1) AS BIGINT) AS dof,
           CAST(least(n_rows, n_cols) - 1 AS BIGINT) AS min_dim,
           CAST(chi2_micro AS BIGINT) AS chi2_micro,
           CAST(chi2_micro // (n * (least(n_rows, n_cols) - 1))
                AS BIGINT) AS v2_micro,
           CAST(floor(sqrt(CAST(chi2_micro
                // (n * (least(n_rows, n_cols) - 1)) AS DOUBLE)))
                AS BIGINT) AS v_milli
    FROM chi CROSS JOIN dims
    """,
)
def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X328 — Cramér's V effect size for the X301 contingency
    (language × length bucket): V² = χ²/(N·(min(R,C)−1)) — the
    bounded [0,1] strength that χ² alone (which grows with N) never
    gives; the number you compare ACROSS corpora sizes.

    Exactness: χ² micro is the X301 exact-integer identity; V² micro
    is one more truncated integer div; V milli = floor(sqrt(v2_micro))
    where v2_micro ≤ 1e6, and sqrt of an integer ≤ 2^53 is correctly
    rounded on both engines (an integer boundary is ≥ 1 away, the ulp
    ~1e-10 — no correction step needed at this magnitude, unlike
    X241's 1e10-scaled seed). Scale shape: one fact-sized groupBy →
    grid-sized everything; 1-row output."""
    docs = load_table(spark, sf_dir, "documents")
    obs = (
        docs.select(
            "lang",
            F.when(F.col("n_chars") < 250, "short")
            .when(F.col("n_chars") < 400, "mid")
            .otherwise("long")
            .alias("bucket"),
        )
        .groupBy("lang", "bucket")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("o"))
    )
    rt = obs.groupBy("lang").agg(F.sum("o").cast("decimal(38,0)").alias("r"))
    ct = obs.groupBy("bucket").agg(
        F.sum("o").cast("decimal(38,0)").alias("c")
    )
    nt = obs.agg(F.sum("o").cast("decimal(38,0)").alias("n"))
    cells = (
        rt.select("lang")
        .crossJoin(ct.select("bucket"))
        .join(obs, ["lang", "bucket"], "left")
        .withColumn(
            "o", F.coalesce(F.col("o"), F.lit(0).cast("decimal(38,0)"))
        )
    )
    dims = rt.agg(F.count(F.lit(1)).cast("long").alias("n_rows")).crossJoin(
        ct.agg(F.count(F.lit(1)).cast("long").alias("n_cols"))
    )
    chi = (
        cells.join(rt, "lang")
        .join(ct, "bucket")
        .crossJoin(F.broadcast(nt))
        .agg(
            F.sum(
                F.expr(
                    "(o * n - r * c) * (o * n - r * c) * 1000000"
                    " div (r * c * n)"
                )
            )
            .cast("decimal(38,0)")
            .alias("chi2_micro"),
            F.max("n").alias("n"),
        )
    )
    return chi.crossJoin(F.broadcast(dims)).select(
        F.col("n").cast("long").alias("n"),
        F.expr("CAST((n_rows - 1) * (n_cols - 1) AS BIGINT)").alias("dof"),
        F.expr("CAST(least(n_rows, n_cols) - 1 AS BIGINT)").alias(
            "min_dim"
        ),
        F.col("chi2_micro").cast("long").alias("chi2_micro"),
        F.expr(
            "CAST(chi2_micro div (n * (least(n_rows, n_cols) - 1))"
            " AS BIGINT)"
        ).alias("v2_micro"),
        F.expr(
            "CAST(floor(sqrt(CAST(chi2_micro"
            " div (n * (least(n_rows, n_cols) - 1)) AS DOUBLE)))"
            " AS BIGINT)"
        ).alias("v_milli"),
    )


@query(
    "q_cochran_q",
    oracle=f"""
    WITH {_RATED_CTE},
    g3 AS (
      SELECT doc_id,
             CAST(ra AS BIGINT) AS g1, CAST(rb AS BIGINT) AS g2,
             CAST(n_chars >= 300 AS BIGINT) AS g3
      FROM rated
    ),
    tots AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(g1) AS HUGEINT) AS c1,
             CAST(sum(g2) AS HUGEINT) AS c2,
             CAST(sum(g3) AS HUGEINT) AS c3,
             CAST(sum((g1 + g2 + g3) * (g1 + g2 + g3)) AS HUGEINT)
               AS sum_r2
      FROM g3
    ),
    stat AS (
      SELECT n_docs, c1, c2, c3,
             c1 + c2 + c3 AS t,
             2 * (3 * (c1*c1 + c2*c2 + c3*c3)
                  - (c1 + c2 + c3) * (c1 + c2 + c3)) AS num,
             3 * (c1 + c2 + c3) - sum_r2 AS den
      FROM tots
    )
    SELECT gate, CAST(successes AS BIGINT) AS successes,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(CASE WHEN den > 0 THEN num * 1000000 // den END
                AS BIGINT) AS q_micro,
           CAST(2 AS BIGINT) AS dof,
           CAST(5991 AS BIGINT) AS crit_milli,
           CASE WHEN den > 0 THEN num * 1000000 // den > 5991 * 1000
                ELSE FALSE END AS gates_differ
    FROM stat,
         (VALUES ('rule', 1), ('ttr', 2), ('length', 3)) AS v(gate, gi),
         LATERAL (SELECT CASE gi WHEN 1 THEN c1 WHEN 2 THEN c2
                         ELSE c3 END AS successes) s
    ORDER BY gate
    """,
)
def q_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X329 — Cochran's Q for k=3 binary raters on the same documents
    (rule gate, TTR gate, length≥300 gate): do the gates pass at the
    same rate? Q = (k−1)·(k·ΣGⱼ² − T²) / (k·T − ΣRᵢ²) — the k-rater
    generalization of X327's McNemar (k=2 reduces to it without
    continuity correction). dof k−1 = 2, 5% critical 5.991.

    Exactness: column totals Gⱼ, the grand total T and the per-doc
    row sums Rᵢ∈{0..3} are integers; ΣRᵢ² folds in the same fact
    aggregate (no second scan); Q is one truncated micro div of
    DECIMAL(38) products; degenerate den=0 (all docs pass all or no
    gates) → NULL/FALSE on both engines. Scale shape: one scan →
    1-row aggregate → a 3-row presentation (one per gate)."""
    rated = _rated_gates(load_table(spark, sf_dir, "documents"))
    g = rated.select(
        F.col("ra").cast("long").alias("g1"),
        F.col("rb").cast("long").alias("g2"),
        (F.col("n_chars") >= 300).cast("long").alias("g3"),
    )
    tots = g.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("g1").cast("decimal(38,0)").alias("c1"),
        F.sum("g2").cast("decimal(38,0)").alias("c2"),
        F.sum("g3").cast("decimal(38,0)").alias("c3"),
        F.sum(
            (F.col("g1") + F.col("g2") + F.col("g3"))
            * (F.col("g1") + F.col("g2") + F.col("g3"))
        )
        .cast("decimal(38,0)")
        .alias("sum_r2"),
    )
    stat = tots.select(
        "n_docs",
        "c1",
        "c2",
        "c3",
        F.expr(
            "2 * (3 * (c1*c1 + c2*c2 + c3*c3)"
            " - (c1 + c2 + c3) * (c1 + c2 + c3))"
        ).alias("num"),
        F.expr("3 * (c1 + c2 + c3) - sum_r2").alias("den"),
    )
    gates = stat.sparkSession.createDataFrame(
        [("rule", 1), ("ttr", 2), ("length", 3)], "gate string, gi int"
    )
    return (
        stat.crossJoin(F.broadcast(gates))
        .select(
            "gate",
            F.expr(
                "CAST(CASE gi WHEN 1 THEN c1 WHEN 2 THEN c2 ELSE c3 END"
                " AS BIGINT)"
            ).alias("successes"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.expr(
                "CAST(CASE WHEN den > 0 THEN num * 1000000 div den END"
                " AS BIGINT)"
            ).alias("q_micro"),
            F.lit(2).cast("long").alias("dof"),
            F.lit(5991).cast("long").alias("crit_milli"),
            F.expr(
                "CASE WHEN den > 0 THEN num * 1000000 div den"
                " > 5991 * 1000 ELSE FALSE END"
            ).alias("gates_differ"),
        )
        .orderBy("gate")
    )


@query(
    "q_odds_ratio",
    oracle=f"""
    WITH {_RATED_CTE}, {_2X2_CONT_SQL}
    SELECT n11, n10, n01, n00,
           CAST(CASE WHEN n10 * n01 > 0 THEN
                CAST(n11 AS HUGEINT) * n00 * 1000000
                  // (CAST(n10 AS HUGEINT) * n01) END AS BIGINT)
             AS or_micro,
           round(CASE WHEN n11 * n10 * n01 * n00 > 0 THEN
                 ln((CAST(n11 AS DOUBLE) * n00)
                    / (CAST(n10 AS DOUBLE) * n01)) END, 6) AS log_or,
           round(CASE WHEN n11 * n10 * n01 * n00 > 0 THEN
                 ln((CAST(n11 AS DOUBLE) * n00)
                    / (CAST(n10 AS DOUBLE) * n01))
                 - 2 * sqrt(1.0/n11 + 1.0/n10 + 1.0/n01 + 1.0/n00)
                 END, 6) AS ci_lo,
           round(CASE WHEN n11 * n10 * n01 * n00 > 0 THEN
                 ln((CAST(n11 AS DOUBLE) * n00)
                    / (CAST(n10 AS DOUBLE) * n01))
                 + 2 * sqrt(1.0/n11 + 1.0/n10 + 1.0/n01 + 1.0/n00)
                 END, 6) AS ci_hi,
           CASE WHEN n11 * n10 * n01 * n00 > 0 THEN
                abs(ln((CAST(n11 AS DOUBLE) * n00)
                       / (CAST(n10 AS DOUBLE) * n01)))
                > 2 * sqrt(1.0/n11 + 1.0/n10 + 1.0/n01 + 1.0/n00)
                ELSE FALSE END AS excludes_one
    FROM cont
    """,
)
def q_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X330 — odds ratio of the 2×2 rater table with the Woolf z=2
    interval: OR = (n11·n00)/(n10·n01), CI = exp-free on the LOG
    scale (ln OR ± 2·√(1/a+1/b+1/c+1/d)); `excludes_one` is the
    association verdict (CI excludes OR=1 ⇔ |ln OR| > half-width).

    Exactness: or_micro is a truncated integer div of exact counts;
    the log-scale columns are identical-input double expressions (one
    ln, one sqrt) behind the 6-dp round — the X247/X275 float
    discipline; any zero cell → NULL estimate, FALSE verdict on both
    engines (no Haldane smoothing — an explicit-NULL policy beats a
    silently-shifted estimate for an audit query). Scale shape: one
    scan → 1-row aggregate → constant arithmetic."""
    cont = _rated_2x2(load_table(spark, sf_dir, "documents"))
    lor = F.expr(
        "CASE WHEN n11 * n10 * n01 * n00 > 0 THEN"
        " ln((CAST(n11 AS DOUBLE) * n00) / (CAST(n10 AS DOUBLE) * n01))"
        " END"
    )
    hw = F.expr(
        "2 * sqrt(1.0/n11 + 1.0/n10 + 1.0/n01 + 1.0/n00)"
    )
    nonzero = F.expr("n11 * n10 * n01 * n00 > 0")
    return cont.select(
        "n11",
        "n10",
        "n01",
        "n00",
        F.expr(
            "CAST(CASE WHEN n10 * n01 > 0 THEN"
            " CAST(n11 AS DECIMAL(38,0)) * n00 * 1000000"
            " div (CAST(n10 AS DECIMAL(38,0)) * n01) END AS BIGINT)"
        ).alias("or_micro"),
        F.round(lor, 6).alias("log_or"),
        F.round(F.when(nonzero, lor - hw), 6).alias("ci_lo"),
        F.round(F.when(nonzero, lor + hw), 6).alias("ci_hi"),
        F.coalesce(
            F.when(nonzero, F.abs(lor) > hw), F.lit(False)
        ).alias("excludes_one"),
    )


# --------------------------------------------------------------------------
# X337 — Cronbach's alpha over three integer quality sub-scores: the
# internal-consistency audit of a composite quality score (do the
# sub-scores measure one construct, or is the composite incoherent?).
# With variances computed as the scale-free integer moments
# v = n·Σx² − (Σx)², alpha = k/(k−1) · (1 − Σvᵢ/v_total) becomes one
# sign-corrected rational of DECIMAL(38) integers — exact end to end.
# --------------------------------------------------------------------------
@query(
    "q_cronbach_alpha",
    oracle=rf"""
    WITH {_RATED_CTE.replace("rated AS (", "rated0 AS (")},
    items AS (
      SELECT t2.doc_id,
             CAST(least(t2.n_chars, 500) AS HUGEINT) AS s1,
             CAST(len(list_distinct(t2.t)) * 1000000 // len(t2.t)
                  AS HUGEINT) AS s2,
             CAST(least(len(t2.t), 200) AS HUGEINT) AS s3
      FROM tok2 t2
    ),
    agg AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             sum(s1) AS x1, sum(s1*s1) AS q1,
             sum(s2) AS x2, sum(s2*s2) AS q2,
             sum(s3) AS x3, sum(s3*s3) AS q3,
             sum(s1+s2+s3) AS xt,
             sum((s1+s2+s3)*(s1+s2+s3)) AS qt
      FROM items
    ),
    vars AS (
      SELECT n,
             (n*q1 - x1*x1) + (n*q2 - x2*x2) + (n*q3 - x3*x3) AS vi,
             n*qt - xt*xt AS vt
      FROM agg
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(vi AS BIGINT) AS var_items_scaled,
           CAST(vt AS BIGINT) AS var_total_scaled,
           CAST(CASE WHEN vt = 0 THEN NULL
                WHEN 3 * (vt - vi) >= 0
                  THEN (3 * (vt - vi) * 1000000) // (2 * vt)
                ELSE -((-(3 * (vt - vi)) * 1000000) // (2 * vt))
                END AS BIGINT) AS alpha_micro
    FROM vars
    """,
)
def q_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X337 — Cronbach's alpha of the composite quality score
    (items: capped char length, TTR micro, capped token count),
    k = 3: alpha = (k/(k−1))·(1 − Σvᵢ/v_t).

    Exactness: each item is an integer projection; variances use the
    n-scaled integer moment n·Σx² − (Σx)² so no mean ever
    materializes; alpha is one sign-corrected truncated micro div
    (negative alpha is meaningful — items anti-correlate); v_t = 0
    (all docs identical) → NULL on both engines. Scale shape: one
    scan → 1-row moment aggregate with map-side partials → constant
    arithmetic. DECIMAL(38) headroom: Σ(TTR micro)² ≤ n·1e12 keeps
    n·Σx² < 1e38 for n < 1e19 rows. Reference analog: none."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    items = docs.select(
        F.expr("CAST(least(n_chars, 500) AS DECIMAL(38,0))").alias("s1"),
        F.size(t).alias("__nt"),
        F.size(F.array_distinct(t)).alias("__nd"),
    ).select(
        "s1",
        F.expr(
            "CAST(CAST(__nd AS BIGINT) * 1000000 div __nt"
            " AS DECIMAL(38,0))"
        ).alias("s2"),
        F.expr("CAST(least(__nt, 200) AS DECIMAL(38,0))").alias("s3"),
    )
    agg = items.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("s1").cast("decimal(38,0)").alias("x1"),
        F.sum(F.col("s1") * F.col("s1")).cast("decimal(38,0)").alias("q1"),
        F.sum("s2").cast("decimal(38,0)").alias("x2"),
        F.sum(F.col("s2") * F.col("s2")).cast("decimal(38,0)").alias("q2"),
        F.sum("s3").cast("decimal(38,0)").alias("x3"),
        F.sum(F.col("s3") * F.col("s3")).cast("decimal(38,0)").alias("q3"),
        F.sum(F.col("s1") + F.col("s2") + F.col("s3"))
        .cast("decimal(38,0)")
        .alias("xt"),
        F.sum(
            (F.col("s1") + F.col("s2") + F.col("s3"))
            * (F.col("s1") + F.col("s2") + F.col("s3"))
        )
        .cast("decimal(38,0)")
        .alias("qt"),
    )
    vars_ = agg.select(
        "n",
        F.expr(
            "(n*q1 - x1*x1) + (n*q2 - x2*x2) + (n*q3 - x3*x3)"
        ).alias("vi"),
        F.expr("n*qt - xt*xt").alias("vt"),
    )
    return vars_.select(
        F.col("n").cast("long").alias("n_docs"),
        F.col("vi").cast("long").alias("var_items_scaled"),
        F.col("vt").cast("long").alias("var_total_scaled"),
        F.expr(
            "CAST(CASE WHEN vt = 0 THEN NULL"
            " WHEN 3 * (vt - vi) >= 0"
            "   THEN (3 * (vt - vi) * 1000000) div (2 * vt)"
            " ELSE -((-(3 * (vt - vi)) * 1000000) div (2 * vt))"
            " END AS BIGINT)"
        ).alias("alpha_micro"),
    )


# --------------------------------------------------------------------------
# X338 — linear-weighted Cohen's kappa on ORDINAL ratings: two 3-level
# raters (char-length terciles vs token-count buckets). Plain kappa
# (X246) treats a 1-step and a 2-step disagreement the same; weighted
# kappa charges |i−j| — the right agreement statistic for ordered
# scales. kappa_w = 1 − n·Σw·O / Σw·r·c is one sign-corrected exact
# rational of integer counts.
# --------------------------------------------------------------------------
@query(
    "q_weighted_kappa",
    oracle=rf"""
    WITH {_RATED_CTE.replace("rated AS (", "rated0 AS (")},
    scored AS (
      SELECT CASE WHEN t2.n_chars < 250 THEN 0
                  WHEN t2.n_chars < 400 THEN 1 ELSE 2 END AS i,
             CASE WHEN len(t2.t) < 40 THEN 0
                  WHEN len(t2.t) < 60 THEN 1 ELSE 2 END AS j
      FROM tok2 t2
    ),
    cells AS (
      SELECT i, j, CAST(count(*) AS HUGEINT) AS o
      FROM scored GROUP BY i, j
    ),
    grid AS (
      SELECT gi.i, gj.j, COALESCE(cells.o, 0::HUGEINT) AS o
      FROM (SELECT unnest([0,1,2]) AS i) gi
      CROSS JOIN (SELECT unnest([0,1,2]) AS j) gj
      LEFT JOIN cells ON cells.i = gi.i AND cells.j = gj.j
    ),
    marg AS (
      SELECT i, j, o,
             sum(o) OVER (PARTITION BY i) AS r,
             sum(o) OVER (PARTITION BY j) AS c,
             sum(o) OVER () AS n
      FROM grid
    ),
    sums AS (
      SELECT max(n) AS n,
             sum(abs(i - j) * o) AS wo,
             sum(abs(i - j) * r * c) AS wrc
      FROM marg
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(wo AS BIGINT) AS sum_w_obs,
           CAST(wrc AS BIGINT) AS sum_w_exp_scaled,
           CAST(CASE WHEN wrc = 0 THEN NULL
                WHEN wrc - n * wo >= 0
                  THEN ((wrc - n * wo) * 1000000) // wrc
                ELSE -((-(wrc - n * wo) * 1000000) // wrc)
                END AS BIGINT) AS kappa_w_micro
    FROM sums
    """,
)
def q_weighted_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X338 — linear-weighted kappa between the char-length tercile
    rater and the token-count rater (3-level ordinal scales):
    kappa_w = 1 − n·Σ|i−j|·Oᵢⱼ / Σ|i−j|·rᵢ·cⱼ.

    Exactness: the 3×3 grid is densified (the X301 zero-cell rule);
    marginal products and the weighted sums are DECIMAL(38) integers;
    kappa is one sign-corrected truncated micro div; a diagonal-only
    expected table (wrc = 0, every weight hits a zero product) →
    NULL. Scale shape: one fact-sized counting aggregate → a 9-cell
    grid → 1-row output."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    scored = docs.select(
        F.expr(
            "CASE WHEN n_chars < 250 THEN 0"
            " WHEN n_chars < 400 THEN 1 ELSE 2 END"
        ).alias("i"),
        F.when(F.size(t) < 40, 0)
        .when(F.size(t) < 60, 1)
        .otherwise(2)
        .alias("j"),
    )
    cells = scored.groupBy("i", "j").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("o")
    )
    gi = docs.sparkSession.createDataFrame([(0,), (1,), (2,)], "i int")
    gj = docs.sparkSession.createDataFrame([(0,), (1,), (2,)], "j int")
    grid = (
        gi.crossJoin(F.broadcast(gj))
        .join(cells, ["i", "j"], "left")
        .withColumn(
            "o", F.coalesce(F.col("o"), F.lit(0).cast("decimal(38,0)"))
        )
    )
    from pyspark.sql.window import Window as W

    marg = grid.select(
        "i",
        "j",
        "o",
        F.sum("o").over(W.partitionBy("i")).alias("r"),
        F.sum("o").over(W.partitionBy("j")).alias("c"),
        F.sum("o").over(W.partitionBy()).alias("n"),
    )
    sums = marg.agg(
        F.max("n").alias("n"),
        F.sum(F.expr("abs(i - j) * o")).cast("decimal(38,0)").alias("wo"),
        F.sum(F.expr("abs(i - j) * r * c"))
        .cast("decimal(38,0)")
        .alias("wrc"),
    )
    return sums.select(
        F.col("n").cast("long").alias("n_docs"),
        F.col("wo").cast("long").alias("sum_w_obs"),
        F.col("wrc").cast("long").alias("sum_w_exp_scaled"),
        F.expr(
            "CAST(CASE WHEN wrc = 0 THEN NULL"
            " WHEN wrc - n * wo >= 0"
            "   THEN ((wrc - n * wo) * 1000000) div wrc"
            " ELSE -((-(wrc - n * wo) * 1000000) div wrc)"
            " END AS BIGINT)"
        ).alias("kappa_w_micro"),
    )


# --------------------------------------------------------------------------
# X339 — Gopher-style intra-document repetition screen: the fraction
# of token 3-grams that are in-document duplicates, plus the most
# frequent token's share — two of the published Gopher repetition
# rules (Rae et al. 2021 Table A1), the pass that catches
# "lorem lorem lorem" spam that inter-document dedup never sees.
# --------------------------------------------------------------------------
@query(
    "q_repetition_gopher",
    oracle=rf"""
    WITH {_TOK_CTE},
    grams AS (
      SELECT doc_id, source, len(t) AS n_tokens,
             CASE WHEN len(t) >= 3
                  THEN list_transform(range(1, len(t) - 1),
                       i -> array_to_string(t[i:i+2], ' '))
                  ELSE [] END AS g3,
             t
      FROM tok
    ),
    per_doc AS (
      SELECT doc_id, source, n_tokens,
             CAST(len(g3) AS BIGINT) AS n_grams,
             CAST(len(g3) - len(list_distinct(g3)) AS BIGINT) AS n_dup,
             CAST((SELECT max(cnt) FROM (
                SELECT count(*) AS cnt FROM unnest(t) AS u(tok)
                GROUP BY tok)) AS BIGINT) AS top_tok
      FROM grams
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_grams > 0
                AND n_dup * 1000000 // n_grams > 180000
                THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_dup3,
           CAST(sum(CASE WHEN top_tok * 1000000 // n_tokens > 200000
                THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_toptok,
           CAST(sum(n_dup) * 1000000 // sum(n_grams) AS BIGINT)
             AS mean_dup3_micro
    FROM per_doc GROUP BY source ORDER BY source
    """,
)
def q_repetition_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X339 — per-source repetition screen: duplicate-3-gram fraction
    (flag > 0.18) and top-token share (flag > 0.20), the two cheapest
    Gopher repetition rules, rolled up per source.

    Exactness: 3-gram lists and distinct counts are ROW-LOCAL integer
    HOFs (the X283 hoisted-token discipline — `t` projected once);
    the per-doc top-token count is an explode + (doc, token) count +
    per-doc max (map-side combined; no HOF quadratic scan); flags and
    the corpus mean are truncated integer micro divs. Scale shape:
    everything fact-sized is one pass + one (doc,token) aggregate;
    output is source-sized. Presentation sort bounded (class a)."""
    docs = load_table(spark, sf_dir, "documents")
    tokked = docs.select(
        "doc_id",
        "source",
        F.split(
            F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
        ).alias("t"),
    )
    grams = tokked.select(
        "doc_id",
        "source",
        F.size("t").alias("n_tokens"),
        F.expr(
            "CASE WHEN size(t) >= 3 THEN transform("
            " sequence(1, size(t) - 2),"
            " i -> concat_ws(' ', slice(t, i, 3)))"
            " ELSE array() END"
        ).alias("g3"),
        "t",
    )
    base = grams.select(
        "doc_id",
        "source",
        "n_tokens",
        F.size("g3").cast("long").alias("n_grams"),
        (F.size("g3") - F.size(F.array_distinct("g3")))
        .cast("long")
        .alias("n_dup"),
    )
    top = (
        tokked.select("doc_id", F.explode("t").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(F.max("cnt").cast("long").alias("top_tok"))
    )
    per_doc = base.join(top, "doc_id")
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(
                F.expr(
                    "CASE WHEN n_grams > 0 AND"
                    " n_dup * 1000000 div n_grams > 180000"
                    " THEN 1 ELSE 0 END"
                )
            )
            .cast("long")
            .alias("n_flag_dup3"),
            F.sum(
                F.expr(
                    "CASE WHEN top_tok * 1000000 div n_tokens > 200000"
                    " THEN 1 ELSE 0 END"
                )
            )
            .cast("long")
            .alias("n_flag_toptok"),
            F.expr(
                "CAST(sum(n_dup) * 1000000 div sum(n_grams) AS BIGINT)"
            ).alias("mean_dup3_micro"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# X344 — Youden's J operating point on the X293 TTR→English gate:
# J = TPR − FPR per threshold, argmax = the threshold that maximizes
# balanced discrimination (the right pick when class prevalence is
# skewed and F1's precision focus misleads).
# --------------------------------------------------------------------------
@query(
    "q_youden_j",
    oracle=r"""
    WITH scored AS (
      SELECT CAST(len(list_distinct(t)) * 1000000 // len(t) AS BIGINT)
               AS score,
             CAST(lang = 'en' AS INT) AS y
      FROM (
        SELECT string_split(trim(regexp_replace(lower(text), '\s+', ' ',
                            'g')), ' ') AS t, lang
        FROM documents
      )
    ),
    grid AS (SELECT unnest([0, 100000, 200000, 300000, 400000, 500000,
                            600000, 700000, 800000, 900000]) AS thr),
    cells AS (
      SELECT g.thr,
             CAST(SUM(CASE WHEN s.score >= g.thr AND s.y = 1
                      THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN s.score >= g.thr AND s.y = 0
                      THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(SUM(CASE WHEN s.y = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS pos,
             CAST(SUM(CASE WHEN s.y = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS neg
      FROM scored s CROSS JOIN grid g GROUP BY g.thr
    ),
    m AS (
      SELECT CAST(thr AS BIGINT) AS threshold_micro, tp, fp, pos, neg,
             CASE WHEN pos > 0 THEN tp * 1000000 // pos END AS tpr_micro,
             CASE WHEN neg > 0 THEN fp * 1000000 // neg END AS fpr_micro
      FROM cells
    ),
    j AS (
      SELECT *, tpr_micro - fpr_micro AS j_micro FROM m
      WHERE tpr_micro IS NOT NULL AND fpr_micro IS NOT NULL
    ),
    withmax AS (
      SELECT *, max(j_micro) OVER () AS best_j FROM j
    ),
    best AS (
      SELECT *,
             min(CASE WHEN j_micro = best_j THEN threshold_micro END)
               OVER () AS best_thr
      FROM withmax
    )
    SELECT threshold_micro, tp, fp, tpr_micro, fpr_micro, j_micro,
           j_micro = best_j AND threshold_micro = best_thr AS is_best
    FROM best ORDER BY threshold_micro
    """,
)
def q_youden_j(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X344 — Youden's J sweep over the X293 threshold grid:
    J = TPR − FPR in exact micro units, best-threshold flag with the
    min-threshold tiebreak (the X293 argmax discipline).

    Exactness: confusion counts are one fact-sized aggregate over the
    broadcast 10-point grid; TPR/FPR are truncated integer micro divs
    of exact counts and J is their integer difference (defining J on
    the floored micro terms identically in both engines — floors
    don't commute with subtraction, so the DEFINITION is the floored
    form). Scale shape: fact scan × 10 grid rows map-side combined;
    everything after is 10 rows. Presentation sort grid-bounded."""
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    t = F.split(
        F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
    )
    scored = docs.select(t.alias("t"), "lang").select(
        F.expr(
            "CAST(size(array_distinct(t)) * 1000000 div size(t)"
            " AS BIGINT)"
        ).alias("score"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    grid = docs.sparkSession.createDataFrame(
        [(i * 100000,) for i in range(10)], "thr long"
    )
    cells = scored.crossJoin(F.broadcast(grid)).groupBy("thr").agg(
        F.sum(
            F.expr("CASE WHEN score >= thr AND y = 1 THEN 1 ELSE 0 END")
        )
        .cast("long")
        .alias("tp"),
        F.sum(
            F.expr("CASE WHEN score >= thr AND y = 0 THEN 1 ELSE 0 END")
        )
        .cast("long")
        .alias("fp"),
        F.sum(F.expr("CASE WHEN y = 1 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("pos"),
        F.sum(F.expr("CASE WHEN y = 0 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("neg"),
    )
    m = cells.select(
        F.col("thr").cast("long").alias("threshold_micro"),
        "tp",
        "fp",
        F.expr(
            "CASE WHEN pos > 0 THEN tp * 1000000 div pos END"
        ).alias("tpr_micro"),
        F.expr(
            "CASE WHEN neg > 0 THEN fp * 1000000 div neg END"
        ).alias("fpr_micro"),
    ).filter(
        F.col("tpr_micro").isNotNull() & F.col("fpr_micro").isNotNull()
    )
    j = m.withColumn(
        "j_micro", F.col("tpr_micro") - F.col("fpr_micro")
    )
    w = W.partitionBy()
    best = j.withColumn("best_j", F.max("j_micro").over(w)).withColumn(
        "best_thr",
        F.min(
            F.when(
                F.col("j_micro") == F.col("best_j"),
                F.col("threshold_micro"),
            )
        ).over(w),
    )
    return best.select(
        "threshold_micro",
        "tp",
        "fp",
        "tpr_micro",
        "fpr_micro",
        "j_micro",
        (
            (F.col("j_micro") == F.col("best_j"))
            & (F.col("threshold_micro") == F.col("best_thr"))
        ).alias("is_best"),
    ).orderBy("threshold_micro")


# --------------------------------------------------------------------------
# X353 — Fleiss' kappa for the k=3 binary gates treated as 3 raters
# per document (categories: pass/fail): the multi-rater agreement
# companion of X246 (Cohen, 2 raters), X338 (weighted, ordinal) and
# X329 (Cochran, rate equality). P̄ and P̄e are exact rationals of the
# per-doc pass counts; kappa is one sign-corrected integer division.
# --------------------------------------------------------------------------
@query(
    "q_fleiss_kappa",
    oracle=rf"""
    WITH {_RATED_CTE.replace("rated AS (", "rated0 AS (")},
    rows_r AS (
      SELECT CAST(
               CAST((len(t) >= 50 AND
                len(list_distinct(list_intersect(t, {_KAPPA_STOPS_SQL})))
                  >= 2) AS INT)
               + CAST((CAST(len(list_distinct(t)) * 1000000 // len(t)
                       AS BIGINT) >= 450000) AS INT)
               + CAST((n_chars >= 300) AS INT) AS HUGEINT) AS ri
      FROM tok2
    ),
    agg AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(ri) AS HUGEINT) AS tot_pass,
             CAST(sum(ri * ri) AS HUGEINT) AS sum_ri2
      FROM rows_r
    ),
    parts AS (
      -- P_bar numerator: sum_i [ri(ri-1) + (3-ri)(2-ri)] over n*3*2
      SELECT n, tot_pass,
             sum_ri2 - tot_pass
               + (6 * n - 5 * tot_pass + sum_ri2) AS pbar_num,
             6 * n AS pbar_den,
             -- P_e numerator: p^2 + q^2 with p = tot/(3n):
             -- (tot^2 + (3n - tot)^2) over (3n)^2
             tot_pass * tot_pass
               + (3 * n - tot_pass) * (3 * n - tot_pass) AS pe_num,
             9 * n * n AS pe_den
      FROM agg
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(tot_pass AS BIGINT) AS total_passes,
           CAST(pbar_num * 1000000 // pbar_den AS BIGINT)
             AS p_bar_micro,
           CAST(pe_num * 1000000 // pe_den AS BIGINT) AS p_e_micro,
           CAST(CASE WHEN pbar_den * pe_den - pe_num * pbar_den = 0
                THEN NULL
                WHEN pbar_num * pe_den - pe_num * pbar_den >= 0
                THEN (pbar_num * pe_den - pe_num * pbar_den) * 1000000
                     // (pbar_den * pe_den - pe_num * pbar_den)
                ELSE -((-(pbar_num * pe_den - pe_num * pbar_den))
                       * 1000000
                       // (pbar_den * pe_den - pe_num * pbar_den))
                END AS BIGINT) AS kappa_micro
    FROM parts
    """,
)
def q_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X353 — Fleiss' kappa, 3 raters × 2 categories per document:
    P̄ = Σᵢ[rᵢ(rᵢ−1) + (3−rᵢ)(2−rᵢ)] / 6n, P̄e = p² + q² with
    p = total passes / 3n; κ = (P̄ − P̄e)/(1 − P̄e) as one
    sign-corrected exact rational (cross-multiplied, denominators
    never divided separately).

    Exactness: rᵢ ∈ {0..3} is an integer projection; all numerators
    and denominators are DECIMAL(38) integer products; a degenerate
    P̄e = 1 (all raters always vote the same category corpus-wide)
    → NULL. Scale shape: one scan → 1-row moment aggregate →
    constant arithmetic. Output is 1 row."""
    rated = _rated_gates(load_table(spark, sf_dir, "documents"))
    rows_r = rated.select(
        F.expr(
            "CAST(CAST(ra AS INT) + CAST(rb AS INT)"
            " + CAST(n_chars >= 300 AS INT) AS DECIMAL(38,0))"
        ).alias("ri")
    )
    agg = rows_r.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("ri").cast("decimal(38,0)").alias("tot_pass"),
        F.sum(F.expr("ri * ri")).cast("decimal(38,0)").alias("sum_ri2"),
    )
    parts = agg.select(
        "n",
        "tot_pass",
        F.expr(
            "sum_ri2 - tot_pass + (6 * n - 5 * tot_pass + sum_ri2)"
        ).alias("pbar_num"),
        F.expr("6 * n").alias("pbar_den"),
        F.expr(
            "tot_pass * tot_pass"
            " + (3 * n - tot_pass) * (3 * n - tot_pass)"
        ).alias("pe_num"),
        F.expr("9 * n * n").alias("pe_den"),
    )
    return parts.select(
        F.col("n").cast("long").alias("n_docs"),
        F.col("tot_pass").cast("long").alias("total_passes"),
        F.expr(
            "CAST(pbar_num * 1000000 div pbar_den AS BIGINT)"
        ).alias("p_bar_micro"),
        F.expr("CAST(pe_num * 1000000 div pe_den AS BIGINT)").alias(
            "p_e_micro"
        ),
        F.expr(
            "CAST(CASE WHEN pbar_den * pe_den - pe_num * pbar_den = 0"
            " THEN NULL"
            " WHEN pbar_num * pe_den - pe_num * pbar_den >= 0"
            " THEN (pbar_num * pe_den - pe_num * pbar_den) * 1000000"
            "      div (pbar_den * pe_den - pe_num * pbar_den)"
            " ELSE -((-(pbar_num * pe_den - pe_num * pbar_den))"
            "        * 1000000"
            "        div (pbar_den * pe_den - pe_num * pbar_den))"
            " END AS BIGINT)"
        ).alias("kappa_micro"),
    )
