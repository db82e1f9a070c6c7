"""Corpus curation for training-data pipelines: benchmark
decontamination, intra-document repetition scoring, and domain-mixture
sampling (north-star text-analysis family — the reference has no query
surface at all, SURVEY §2.2; these are the standard curation passes a
100 TB pretraining corpus runs after dedup).

Scale shapes:

- Decontamination joins corpus n-grams against a BENCHMARK n-gram set.
  The benchmark side is tiny by definition (eval suites are KBs-MBs), so
  the membership test is a broadcast join against exploded corpus
  n-grams; per-doc hit counts come from a map-side-combined groupBy on
  doc id — the only shuffle ships (doc_id, partial count), never text.
  At 100 TB you join on xxhash64(ngram) (8 bytes vs the string); here
  the raw string keeps the DuckDB oracle trivially equivalent.
- Repetition scoring is a pure per-row projection (distinct vs total
  n-gram counts from built-in array functions) — no shuffle at all.
- Mixture sampling reuses the deterministic md5-threshold Bernoulli
  membership (operators/sampling.py): per-domain rates become a small
  broadcast map, so the pass is one broadcast join + filter, no shuffle,
  and membership is stable under repartitioning/engine (the property a
  reproducible data recipe needs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from mysql_cdc_to_http_spark.operators import caching


def tokenize(text_col):
    """Lowercased whitespace tokens; trimmed first — leading/trailing
    whitespace would otherwise split into empty-string tokens and mint
    phantom n-grams that skew every ratio. Materialize this as a REAL
    column before feeding ``word_ngrams_from_tokens`` — an expression
    nested in a transform() lambda re-evaluates per array element, so an
    inline regex+split here costs n_tokens× per row (measured 7 s →
    0.9 s at sf0.1 for repetition scoring)."""
    return F.split(
        F.trim(F.regexp_replace(F.lower(text_col), r"\s+", " ")), " "
    )


def word_ngrams_from_tokens(toks_col, n: int = 5):
    """Space-joined word n-grams (array<string>) over a pre-materialized
    token-array column. NOT deduplicated — repetition scoring needs the
    multiset; set consumers apply array_distinct themselves."""
    idx = F.sequence(
        F.lit(1), F.greatest(F.size(toks_col) - (n - 1), F.lit(1))
    )
    return F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks_col, i, n))
    )


def benchmark_ngram_set(
    benchmark: DataFrame, text_col: str = "text", n: int = 5
) -> DataFrame:
    """Distinct n-grams of the benchmark corpus — one column ``ngram``.
    Distinct-ness keeps the broadcast side minimal."""
    staged = benchmark.select(tokenize(F.col(text_col)).alias("__toks"))
    return (
        staged.select(
            F.explode(word_ngrams_from_tokens(F.col("__toks"), n)).alias(
                "ngram"
            )
        )
        .distinct()
    )


def decontaminate(
    corpus: DataFrame,
    benchmark_ngrams: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    max_overlap: float = 0.1,
) -> DataFrame:
    """Flag training documents that leak benchmark content: a doc is
    contaminated when more than ``max_overlap`` of its distinct word
    n-grams appear in the benchmark set.

    Returns (id, ngrams_total, ngrams_matched, overlap, is_contaminated)
    for every corpus doc. The broadcast of the benchmark set makes the
    membership join shuffle-free; the per-doc count aggregates map-side
    before its one shuffle on doc id."""
    grams = corpus.select(
        F.col(id_col), tokenize(F.col(text_col)).alias("__toks")
    ).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(word_ngrams_from_tokens(F.col("__toks"), n))
        ).alias("ngram"),
    )
    hits = (
        grams.join(
            F.broadcast(benchmark_ngrams.withColumn("__hit", F.lit(1))),
            "ngram",
            "left",
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("ngrams_total"),
            F.count("__hit").alias("ngrams_matched"),
        )
    )
    # exact ints divided → bit-identical double on any engine; no rounding
    overlap = F.col("ngrams_matched") / F.col("ngrams_total")
    return hits.select(
        id_col,
        "ngrams_total",
        "ngrams_matched",
        overlap.alias("overlap"),
        (overlap > max_overlap).alias("is_contaminated"),
    )


def fuzzy_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate (fuzzy) benchmark decontamination: MinHash-LSH
    join of the training corpus against the benchmark corpus, exact
    Jaccard verify on candidates. Catches paraphrase-level leakage the
    exact n-gram overlap pass (``decontaminate``) under-counts when the
    leaked text was lightly edited.

    Cross-corpus shape at scale — and why it differs from self-dedup
    (``operators/dedup.py:minhash_dedup_pairs``): the benchmark side is
    small by definition (eval suites), so its banded signature table and
    its shingle arrays are BROADCAST. The corpus is never shuffled at
    all: candidate generation is a broadcast hash join of corpus band
    rows against benchmark band rows, and the verify joins benchmark
    shingles back by broadcast too. The whole pass is map-side; the only
    wide operation is the final distinct on surviving pairs.

    Returns (doc_id, bench_id, jaccard) — one row per (corpus doc,
    benchmark doc) pair at or above ``threshold``."""
    from mysql_cdc_to_http_spark.operators.dedup import (
        band_signatures,
        prepare_minhash,
    )

    rows_per_band = n_hashes // bands
    prep_c = caching.persist(
        prepare_minhash(corpus, id_col, text_col, n_hashes, shingle_k, "word")
    )
    prep_b = caching.persist(
        prepare_minhash(
            benchmark, id_col, text_col, n_hashes, shingle_k, "word"
        )
    )
    banded_c = band_signatures(
        prep_c, id_col, "sig", bands, rows_per_band, max_bucket_size=500
    )
    # benchmark side: no size cap — it is broadcast-small, and dropping
    # a hot benchmark bucket would silently lose contamination hits
    banded_b = band_signatures(
        prep_b, id_col, "sig", bands, rows_per_band, max_bucket_size=None
    )
    cands = (
        banded_c.alias("c")
        .join(
            F.broadcast(banded_b.alias("b")),
            (F.col("c.band") == F.col("b.band"))
            & (F.col("c.bucket") == F.col("b.bucket")),
            "inner",
        )
        .select(
            F.col(f"c.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    sh_a = prep_c.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    sh_b = prep_b.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    # candidates are broadcast into the corpus-shingle scan (they are
    # bounded by benchmark-bucket collisions, small by construction) —
    # the corpus side stays map-side through the whole verify
    joined = sh_a.join(F.broadcast(cands), "id_a").join(
        F.broadcast(sh_b), "id_b"
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        joined.select("id_a", "id_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("id_a").alias(id_col),
            F.col("id_b").alias("bench_id"),
            "jaccard",
        )
    )


def repetition_score(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Intra-document repetition: 1 − distinct/total over word n-grams
    (0 = no repeated n-gram, →1 = the same n-gram over and over). The
    standard cheap quality gate against looping/spammy generations —
    a pure projection, no shuffle."""
    staged = docs.select(
        F.col(id_col), tokenize(F.col(text_col)).alias("__toks")
    ).select(
        F.col(id_col),
        word_ngrams_from_tokens(F.col("__toks"), n).alias("__grams"),
    )
    total = F.size(F.col("__grams"))
    distinct = F.size(F.array_distinct(F.col("__grams")))
    # no rounding: both engines divide the SAME exact ints, so the IEEE
    # quotient is bit-identical — rounding could only introduce
    # half-way-boundary divergence, never remove it
    return staged.select(
        F.col(id_col),
        total.alias("ngrams_total"),
        distinct.alias("ngrams_distinct"),
        (F.lit(1.0) - distinct.cast("double") / total.cast("double")).alias(
            "repetition"
        ),
    )


def rate_to_hex8(rate: float) -> str:
    """Keep-rate → 8-hex md5-prefix threshold: a doc is kept iff the
    first 8 hex chars of its md5 sort below this string. Hex strings
    order lexicographically as numbers, so P(keep) = rate to 16⁻⁸; 'g'
    sorts above every hex digit, so rate ≥ 1 keeps everything."""
    if rate >= 1.0:
        return "g"
    return format(max(int(rate * 16**8), 0), "08x")


def domain_mix_sample(
    docs: DataFrame,
    rates: dict[str, float],
    domain_col: str = "source",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
    seed: str = "mix",
) -> DataFrame:
    """Deterministic per-domain Bernoulli sampling — reshape a corpus to
    a target domain mixture (e.g. upweight code, downweight web) with
    membership that is reproducible across runs, partitionings, and
    engines: keep iff the first 8 hex chars of md5(seed:id) sort below
    the domain's precomputed threshold (same mechanism as
    operators/sampling.py:md5_sample, extended to per-domain rates).
    ``rates`` maps domain → keep-rate in [0, 1]; unlisted domains get
    ``default_rate``. The rate table is a broadcast join (domains are
    few); the pass adds no shuffle."""
    rate_rows = [(k, rate_to_hex8(float(v))) for k, v in rates.items()]
    rate_df = docs.sparkSession.createDataFrame(
        rate_rows, f"{domain_col} string, __thr string"
    )
    prefix = F.substring(
        F.md5(F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string"))),
        1,
        8,
    )
    keep = prefix < F.coalesce(F.col("__thr"), F.lit(rate_to_hex8(default_rate)))
    return (
        docs.join(F.broadcast(rate_df), domain_col, "left")
        .filter(keep)
        .drop("__thr")
    )


def remove_frequent_lines(
    lines: DataFrame,
    id_col: str = "doc_id",
    line_col: str = "line",
    max_doc_freq: int = 5,
) -> DataFrame:
    """CCNet-style boilerplate removal: drop every line whose normalized
    form appears in MORE THAN ``max_doc_freq`` distinct documents
    (nav bars, cookie banners, signatures — the line-level dup class
    document-level dedup cannot see).

    Input is the exploded (id, pos, line) relation; output is the same
    relation minus frequent lines.

    Scale shape: line doc-frequency groups on ``md5(trim(line))`` — 16
    bytes shuffled per line, never the text. The frequent set (lines in
    > max_doc_freq docs) is tiny by the operator's own definition — at
    any corpus size only genuine boilerplate repeats across that many
    documents — so the drop is a BROADCAST anti-join against the
    frequent keys; the corpus lines never shuffle for the subtraction.
    countDistinct(doc) (not count(*)) keeps a line repeated inside one
    document from being counted as cross-document boilerplate."""
    key = F.md5(F.trim(F.col(line_col)))
    freq = (
        lines.select(key.alias("__lk"), F.col(id_col).alias("__id"))
        .groupBy("__lk")
        .agg(F.count_distinct(F.col("__id")).alias("__df"))
        .filter(F.col("__df") > max_doc_freq)
        .select("__lk")
    )
    return lines.join(
        F.broadcast(freq), key == F.col("__lk"), "left_anti"
    )


def reassemble_lines(
    kept: DataFrame,
    all_docs: DataFrame,
    id_col: str = "doc_id",
    pos_col: str = "pos",
    line_col: str = "line",
    sep: str = "\n",
) -> DataFrame:
    """Rebuild cleaned documents from surviving lines, in original line
    order: (id, n_kept, cleaned_md5), with docs whose every line was
    dropped kept as n_kept=0 / empty-text fingerprint rows (``all_docs``
    supplies the full id universe — an inner groupBy would silently lose
    them). collect_list + array_sort is per-document data (bounded by
    document size, not corpus size); order inside the struct sort is
    total because ``pos`` is unique per doc."""
    agg = (
        kept.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(pos_col, line_col))
                    ),
                    lambda s: s[line_col],
                ),
                sep,
            ).alias("__cleaned"),
        )
    )
    return (
        all_docs.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias(
                "n_kept"
            ),
            F.md5(F.coalesce(F.col("__cleaned"), F.lit(""))).alias(
                "cleaned_md5"
            ),
        )
    )


def dsir_scores(
    docs: DataFrame,
    target_pred,
    n_buckets: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """DSIR-style importance scores for data selection (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling",
    hashed-n-gram variant): fit add-one-smoothed unigram models over
    HASHED word-bigram buckets for the TARGET slice (``target_pred``
    rows — the distribution you want more of) and for the full RAW
    corpus, then score every document by its log-likelihood ratio

        score(d) = sum_b c_b(d) * (ln(n_t[b]+1) - ln(n_s[b]+1))
                 + C(d) * (ln(N_s+B) - ln(N_t+B))

    — positive means the doc looks more like the target than like the
    raw pool. Selection (score > 0, or top-k / sampling on the score)
    is the published recipe for skewing a pretraining mix toward a
    high-quality reference corpus without a trained classifier (the
    interpretable-statistics sibling of the X98 model gate).

    Scale shape: the two LMs are ``n_buckets``-row tables produced by
    map-side-combinable hash aggregates (bucket = md5(bigram) % B — the
    hashing trick caps model size regardless of vocabulary), broadcast
    into the per-doc scoring join; fact-sized work is one (doc, bucket)
    count aggregate plus one per-doc sum. Nothing collects; the model
    never leaves the cluster.

    Engine parity: every ln argument is an exact integer (counts + 1,
    totals + B — identical in both engines); the 6-dp round on the
    emitted score absorbs libm ulps (the q_char_entropy rule), and the
    selection flag derives from the ROUNDED score so both engines gate
    identically."""
    toks = docs.select(
        F.col(id_col), target_pred.cast("int").alias("__is_t"),
        tokenize(F.col(text_col)).alias("t"),
    )
    grams = toks.select(
        id_col,
        "__is_t",
        F.explode(word_ngrams_from_tokens(F.col("t"), 2)).alias("g"),
    ).select(
        id_col,
        "__is_t",
        (
            F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("long")
            % n_buckets
        ).alias("b"),
    )
    # ONE pass over the fact-sized gram stream: the two LM tables are
    # exact rollups of the per-(doc, bucket) counts (__is_t is a DOC
    # property, so "grams in target docs per bucket" == Σ c over target
    # docs' rows) — deriving them from the persisted doc_counts removes
    # two of the three tokenize+explode passes (guide §2.3 "aggregate
    # before you shuffle", §2.4).
    doc_counts = caching.persist(
        grams.groupBy(id_col, "b").agg(
            F.count(F.lit(1)).alias("c"),
            F.max("__is_t").alias("__is_t"),
        )
    )
    lm_t = (
        doc_counts.filter(F.col("__is_t") == 1)
        .groupBy("b")
        .agg(F.sum("c").alias("n_t"))
    )
    lm_s = doc_counts.groupBy("b").agg(F.sum("c").alias("n_s"))
    totals = (
        lm_t.agg(F.sum("n_t").alias("nt_total"))
        .crossJoin(lm_s.agg(F.sum("n_s").alias("ns_total")))
    )
    scored = (
        doc_counts.join(F.broadcast(lm_t), "b", "left")
        .join(F.broadcast(lm_s), "b", "left")
        .crossJoin(F.broadcast(totals))
        .groupBy(id_col)
        .agg(
            F.sum("c").cast("long").alias("n_grams"),
            F.sum(
                F.col("c")
                * (
                    F.log(F.coalesce(F.col("n_t"), F.lit(0)) + 1)
                    - F.log(F.coalesce(F.col("n_s"), F.lit(0)) + 1)
                )
            ).alias("__lr"),
            F.first("nt_total").alias("__nt"),
            F.first("ns_total").alias("__ns"),
        )
        .select(
            id_col,
            "n_grams",
            F.round(
                F.col("__lr")
                + F.col("n_grams")
                * (
                    F.log(F.col("__ns") + n_buckets)
                    - F.log(F.col("__nt") + n_buckets)
                ),
                6,
            ).alias("score"),
        )
    )
    return scored.withColumn(
        "selected", (F.col("score") > 0).cast("int")
    )


# Executors must not need this repo on their PYTHONPATH (driver contract
# imports by path).
import sys as _sys
from pyspark import cloudpickle as _cloudpickle
_cloudpickle.register_pickle_by_value(_sys.modules[__name__])
