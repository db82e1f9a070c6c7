"""Text-analysis operators for training-data pipelines: tokenization,
token counting, quality scoring, language ID, fingerprinting.

All hot-path pieces are built-in column expressions (JVM, codegen);
language ID is the one pandas-UDF (its char-n-gram profile scoring has no
built-in equivalent) and is Arrow-vectorized.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

#: BPE-ish token pattern: word pieces, digit runs, or single non-space
#: symbols — a cheap stand-in for a real tokenizer's pre-tokenization.
TOKEN_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"

#: Tiny per-language marker profiles (char trigrams + stopwords). Real
#: lang-ID ships big profile tables; the mechanism (profile overlap
#:  scoring over n-grams) is the same.
_LANG_PROFILES: dict[str, set[str]] = {
    "en": {"the", "and", "ing", "ion", " th", "of "},
    "de": {"der", "und", "sch", "ein", "ich", "en "},
    "es": {"que", "los", "ión", "ado", "de ", "la "},
    "fr": {"les", "des", "ent", "que", "le ", "de "},
    "zh": set(),  # non-latin scripts detected by codepoint class instead
}


def tokenize(col: Column) -> Column:
    """Whitespace tokenization (lowercased)."""
    return F.split(F.lower(col), r"\s+")


def token_count_ws(col: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokenize(col))


def bigrams(tokens: Column) -> Column:
    """Adjacent-pair array from a token array: [{w1, w2}, ...].

    Pure JVM higher-order-function projection (transform over an index
    sequence) — no explode until the caller wants rows, no Python.
    Guarded for < 2 tokens: Spark's ``sequence(1, 0)`` would count DOWN
    ([1, 0]) instead of producing an empty range, so short arrays map
    to an explicit empty array."""
    return F.when(F.size(tokens) >= 2, pairs_of(tokens)).otherwise(
        F.array().cast("array<struct<w1:string,w2:string>>")
    )


def pairs_of(tokens: Column) -> Column:
    """transform(sequence(...)) bigram builder over an arbitrary token
    array column (see :func:`bigrams` for the short-array guard)."""
    return F.transform(
        F.sequence(F.lit(1), F.size(tokens) - 1),
        lambda i: F.struct(
            F.element_at(tokens, i).alias("w1"),
            F.element_at(tokens, i + 1).alias("w2"),
        ),
    )


def token_count_re(col: Column) -> Column:
    """Regex (BPE-ish pre-tokenizer) token count."""
    # group idx 0 (whole match) — the default of 1 requires a capture group
    return F.size(F.regexp_extract_all(F.lower(col), F.lit(TOKEN_RE), F.lit(0)))


def quality_score(text: Column, n_chars: Column) -> Column:
    """Deterministic document quality score in [0,1]:
    0.4·length saturation + 0.3·lexical diversity + 0.3·alpha ratio.
    Pure column arithmetic — identical IEEE ops on any engine."""
    toks = tokenize(text)
    n_tok = F.size(toks)
    diversity = F.size(F.array_distinct(toks)) / n_tok
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", "")) / F.length(text)
    len_sat = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    return 0.4 * len_sat + 0.3 * diversity + 0.3 * alpha


def fingerprint_md5(col: Column) -> Column:
    """Content fingerprint of normalized text (lowercase, collapsed
    whitespace) — the dedup key for hash-based exact dedup at scale
    (group on 16 bytes, not the document payload)."""
    norm = F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")
    return F.md5(norm)


def fingerprint_sha2(col: Column, bits: int = 256) -> Column:
    norm = F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")
    return F.sha2(norm, bits)


@pandas_udf(StringType())
def lang_id_udf(texts: pd.Series) -> pd.Series:
    """Char-n-gram profile language ID (Arrow-vectorized pandas UDF).

    Scores each language by marker-trigram hits per 1k chars; CJK
    detection via codepoint class. Deterministic; ties break by language
    code order."""

    def score(text: str) -> str:
        if not text:
            return "und"
        sample = text[:2000].lower()
        if any("一" <= ch <= "鿿" for ch in sample):
            return "zh"
        best_lang, best = "und", 0.0
        for lang in sorted(_LANG_PROFILES):
            profile = _LANG_PROFILES[lang]
            if not profile:
                continue
            hits = sum(sample.count(g) for g in profile)
            s = hits / (len(sample) / 1000.0)
            if s > best:
                best_lang, best = lang, s
        return best_lang

    return texts.map(score)


#: Word-marker sets for the SQL-expressible lang-ID twin (the md5-SimHash
#: pattern applied to language ID): each language is scored by total
#: occurrences of a few high-frequency markers, counted with the
#: length/replace identity — available verbatim in every SQL engine, so
#: the whole classifier is oracle-able, unlike the pandas-UDF profile
#: scorer above (which stays the richer default). Space-padded word
#: markers need the text wrapped in single spaces first.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": (" der ", " und ", " die "),
    "en": (" the ", " and ", " of "),
    "es": (" el ", " los ", " una "),
    "fr": (" le ", " les ", " et "),
    "zh": ("的", "是", "了"),
}


def _marker_count(t: Column, marker: str) -> Column:
    """Occurrences of ``marker`` in ``t`` via the substitution identity
    (len(t) - len(replace(t, m, ''))) / len(m) — pure JVM string ops."""
    return (F.length(t) - F.length(F.replace(t, F.lit(marker)))) / len(marker)


def lang_scores_marker(text_col: Column) -> dict[str, Column]:
    """Per-language marker-hit scores (``s_<lang>`` → double column)."""
    t = F.concat(F.lit(" "), F.lower(text_col), F.lit(" "))
    return {
        lang: sum(_marker_count(t, m) for m in markers).cast("double")
        for lang, markers in LANG_MARKERS.items()
    }


def lang_guess_marker(score_cols: dict[str, Column]) -> Column:
    """Argmax over marker scores; ties break to the lexicographically
    first language code; all-zero scores → 'und'. Built back-to-front so
    the earliest matching WHEN arm (lowest code) wins — the same CASE
    shape the SQL twin emits."""
    langs = sorted(score_cols)
    guess = F.lit("und")
    for lang in reversed(langs):
        cond = score_cols[lang] > 0
        for other in langs:
            if other != lang:
                cond = cond & (score_cols[lang] >= score_cols[other])
        guess = F.when(cond, lang).otherwise(guess)
    return guess


def lang_id_marker_oracle_sql() -> str:
    """DuckDB mirror of the marker classifier, generated from the same
    LANG_MARKERS table so the two dialects cannot drift."""
    score_exprs = []
    for lang, markers in sorted(LANG_MARKERS.items()):
        terms = " + ".join(
            f"(length(t) - length(replace(t, '{m}', ''))) / {len(m)}"
            for m in markers
        )
        score_exprs.append(f"CAST({terms} AS DOUBLE) AS s_{lang}")
    langs = sorted(LANG_MARKERS)
    arms = []
    for lang in langs:
        conds = [f"s_{lang} > 0"] + [
            f"s_{lang} >= s_{o}" for o in langs if o != lang
        ]
        arms.append("WHEN " + " AND ".join(conds) + f" THEN '{lang}'")
    case = "CASE " + " ".join(arms) + " ELSE 'und' END"
    return f"""
    WITH t AS (SELECT doc_id, lang, ' ' || lower(text) || ' ' AS t
               FROM documents),
    s AS (SELECT doc_id, lang, {', '.join(score_exprs)} FROM t)
    SELECT lang, {case} AS lang_guess, CAST(COUNT(*) AS BIGINT) AS n
    FROM s GROUP BY lang, lang_guess ORDER BY lang, lang_guess
    """


#: Letters scored by the character-entropy quality signal.
_ENTROPY_ALPHABET = "abcdefghijklmnopqrstuvwxyz"


def add_char_entropy(
    df,
    text_col: str,
    n_out: str = "n_letters",
    e_out: str = "entropy",
):
    """Append (n_letters, shannon_entropy) over the a-z letter
    distribution of ``text_col`` — a perplexity-proxy quality signal
    (low entropy = repetitive text). ``n_letters`` is double (0.0 for
    letterless text, where ``entropy`` is NULL).

    Deliberately NOT an explode(chars) + groupBy: per-letter counts via
    the substitution identity keep the whole thing projection-only —
    zero shuffle, which is the difference between a scan-speed score and
    a per-character shuffle at 100 TB. The counts/total/entropy are
    staged as NAMED intermediate columns (three chained projections),
    not one monolithic expression: inlining 26 counts into the 26-term
    entropy sum blows janino's 64 KB method limit and silently drops the
    stage to interpreted execution; named columns let codegen split each
    expression into its own method. Term order is fixed (alphabet order,
    left-assoc addition) so any engine replaying the same expression
    tree reproduces the float bit-for-bit up to libm ln ulps (absorbed
    by the caller's 6-dp round)."""
    orig = df.columns
    t = F.lower(F.col(text_col))
    with_counts = df.select(
        "*",
        *[
            (F.length(t) - F.length(F.replace(t, F.lit(c))))
            .cast("double")
            .alias(f"__ce_{c}")
            for c in _ENTROPY_ALPHABET
        ],
    )
    total = F.col("__ce_a")
    for c in _ENTROPY_ALPHABET[1:]:
        total = total + F.col(f"__ce_{c}")
    with_total = with_counts.select("*", total.alias(n_out))
    n = F.nullif(F.col(n_out), F.lit(0.0))
    entropy = None
    for c in _ENTROPY_ALPHABET:
        cnt = F.col(f"__ce_{c}")
        p = cnt / n
        term = F.when(cnt > 0, -p * F.log(p)).otherwise(F.lit(0.0))
        entropy = term if entropy is None else entropy + term
    return with_total.select(*orig, n_out, entropy.alias(e_out))


def char_entropy_oracle_exprs() -> tuple[str, str, str]:
    """(count_select_list, total_expr, entropy_expr) SQL fragments for the
    DuckDB oracle, generated from the same alphabet/term order."""
    counts = ", ".join(
        f"CAST(length(t) - length(replace(t, '{c}', '')) AS DOUBLE) AS c_{c}"
        for c in _ENTROPY_ALPHABET
    )
    total = " + ".join(f"c_{c}" for c in _ENTROPY_ALPHABET)
    entropy = " + ".join(
        f"(CASE WHEN c_{c} > 0 THEN -(c_{c}/n_letters) * ln(c_{c}/n_letters)"
        f" ELSE 0.0 END)"
        for c in _ENTROPY_ALPHABET
    )
    return counts, total, entropy


#: PII patterns, deliberately restricted to syntax with identical
#: semantics in Java regex (Spark) and RE2 (DuckDB oracle): character
#: classes, bounded repetition, non-capturing groups, ASCII \b.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
PII_IP_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"

#: Redaction order matters where patterns could overlap: emails first
#: (may contain digit runs), then phones, then IPs (dots only — cannot
#: collide with the dash-shaped phone pattern).
_PII_PASSES: tuple[tuple[str, str], ...] = (
    (PII_EMAIL_RE, "[EMAIL]"),
    (PII_PHONE_RE, "[PHONE]"),
    (PII_IP_RE, "[IP]"),
)


def redact_pii(col: Column) -> Column:
    """Replace every email / phone / IPv4 occurrence with a typed
    placeholder. Pure chained ``regexp_replace`` — JVM-side, codegen'd,
    no shuffle: the pass an at-scale corpus scrub wants (regex cost is
    per-row CPU, embarrassingly parallel)."""
    out = col
    for pattern, token in _PII_PASSES:
        out = F.regexp_replace(out, pattern, token)
    return out


def pii_counts(col: Column) -> list[Column]:
    """Per-class PII hit counts (pre-redaction audit columns)."""
    return [
        F.regexp_count(col, F.lit(PII_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(col, F.lit(PII_PHONE_RE)).alias("n_phones"),
        F.regexp_count(col, F.lit(PII_IP_RE)).alias("n_ips"),
    ]


def chunk_documents(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 32,
    stride: int = 16,
):
    """Split each document into overlapping token windows — the pass
    that turns a raw corpus into trainer-sized pieces (context-window
    packing's upstream neighbor).

    Chunk starts are ``1, 1+stride, …`` continuing until a chunk covers
    the final token (the last start rounds UP to the next stride step, so
    tail tokens are never dropped; the final chunk may be short). A
    document shorter than ``chunk_tokens`` yields exactly one clamped
    chunk. Pure explode-of-sequence projection: no shuffle, no UDF, and
    the row blowup is bounded by ``~n_tokens/stride`` per document.

    Output: (id, chunk_id, start_token [1-based], n_tokens, chunk_text).
    """
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")), " "
    )
    # last start = 1 + ceil(max(n - chunk, 0) / stride) * stride —
    # smallest stride-aligned start whose chunk reaches the end —
    # clamped to n so a stride larger than the chunk (sampled, gappy
    # chunking) never emits an empty chunk past the document
    overhang = F.greatest(
        F.size(F.col("__toks")) - chunk_tokens, F.lit(0)
    )
    last_start = F.least(
        (F.floor((overhang + (stride - 1)) / stride) * stride + 1).cast(
            "int"
        ),
        F.size(F.col("__toks")),
    )
    starts = F.sequence(F.lit(1), last_start, F.lit(stride))
    staged = df.select(F.col(id_col), toks.alias("__toks"))
    exploded = staged.select(
        F.col(id_col), F.col("__toks"), F.explode(starts).alias("start_token")
    )
    piece = F.slice(F.col("__toks"), F.col("start_token"), chunk_tokens)
    return exploded.select(
        F.col(id_col),
        ((F.col("start_token") - 1) / stride).cast("int").alias("chunk_id"),
        "start_token",
        F.size(piece).alias("n_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def heavy_hitters(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
):
    """Exact corpus-wide top-k tokens by total frequency, with document
    frequency alongside — the vocabulary/stop-word profile pass.

    Shape at scale: explode → two-phase hash aggregate (partial counts
    combine map-side, only (token, partial) rides the shuffle) → global
    top-k via ordered limit (TakeOrderedAndProject — no full sort). The
    (freq DESC, token ASC) key is a total order, so the cut is
    deterministic. Exact counting is the right default below ~10⁸
    distinct tokens; beyond that swap the groupBy for a count-min sketch
    and keep this as the verifier."""
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")), " "
    )
    exploded = df.select(F.col(id_col), F.explode(toks).alias("token")).filter(
        F.col("token") != ""
    )
    counts = exploded.groupBy("token").agg(
        F.count(F.lit(1)).alias("freq"),
        F.countDistinct(id_col).alias("doc_freq"),
    )
    return counts.orderBy(F.col("freq").desc(), F.col("token").asc()).limit(k)


# Executors must not need this repo on their PYTHONPATH: register this
# module for pickle-by-value so UDFs/closures ship inside the task
# (the driver contract imports __spark_entry__.py by path, not site-packages).
import sys as _sys
from pyspark import cloudpickle as _cloudpickle
_cloudpickle.register_pickle_by_value(_sys.modules[__name__])


def c4_keep_line(line: Column) -> Column:
    """The C4 (Raffel et al. 2020) line-retention predicate: ends in a
    terminal punctuation mark (optionally close-quoted), at least 3
    words, no curly brace, no 'javascript'. One boolean expression —
    usable inside a ``filter()`` HOF so cleaning a page is a single
    codegen projection."""
    return (
        line.rlike('[.!?]"?$')
        & (F.size(F.split(line, " ")) >= 3)
        & ~line.contains("{")
        & ~F.lower(line).contains("javascript")
    )


def c4_clean_page(text: Column) -> tuple[Column, Column, Column, Column]:
    """C4 page cleaning over a newline-joined page: returns
    (n_lines, n_kept, page_dropped, clean_text) columns. Pages
    containing 'lorem ipsum' drop entirely; otherwise the page is the
    newline-join of retained lines. All four outputs come from ONE
    split — Catalyst subexpression elimination shares it — and there is
    no shuffle, no UDF: corpus cleaning at 100 TB is a narrow map."""
    lines = F.split(text, "\n")
    kept = F.filter(lines, c4_keep_line)
    dropped = F.lower(text).contains("lorem ipsum")
    clean = F.when(dropped, F.lit("")).otherwise(F.concat_ws("\n", kept))
    return F.size(lines), F.size(kept), dropped, clean


# ---------------------------------------------------------------------------
# X217 — positional inverted index + exact phrase search.
#
# The IR primitive under benchmark-decontamination and exact-substring
# tooling: postings of (term, doc, ordinal) answer any-length exact
# phrase queries with per-term-filtered joins on consecutive ordinals.
# Token ORDINALS (1st token, 2nd token, …) rather than char offsets make
# adjacency a +1 join and sidestep engine differences in whitespace
# handling: the token stream is regexp_extract_all('[a-z0-9]+') of the
# lowercased text, identical in Spark and DuckDB/ANSI SQL.
# ---------------------------------------------------------------------------
def positional_postings(
    df, id_col: str = "doc_id", text_col: str = "text"
):
    """(term, doc, pos) postings with 1-based token ordinals.

    One posexplode over the token array — a single fact-sized pass, no
    shuffle of its own (the consumer's join/write decides the
    partitioning). At corpus scale, persist this bucketed/partitioned
    BY TERM (a hive-partitioned write) so a phrase probe
    reads only its terms' postings files instead of re-exploding the
    corpus; the probe-side plan below is unchanged either way.
    """
    # Spark's regexp_extract_all defaults to capture group 1, so the
    # token pattern is wrapped in one; DuckDB's returns group 0 —
    # identical token streams either way.
    toks = F.expr(
        f"regexp_extract_all(lower({text_col}), '([a-z0-9]+)', 1)"
    )
    return df.select(
        F.col(id_col).alias("doc_id"), F.posexplode(toks).alias("pos0", "term")
    ).select("term", "doc_id", (F.col("pos0") + 1).alias("pos"))


def phrase_match(postings, terms: list[str]):
    """Per-doc occurrence counts of the exact token phrase ``terms``.

    Chain of ordinal-adjacency joins: postings(term₁) ⋈ postings(term₂)
    on doc and pos+1, … — each side is FILTERED TO ONE TERM before the
    join, so join inputs are postings-list-sized, never corpus-sized
    (term equality reaches the scan as a pushed filter when postings
    are term-partitioned). Overlapping occurrences count separately,
    as they must ("batch batch batch" contains "batch batch" twice).
    Returns (doc_id, n_occ).
    """
    if len(terms) < 1:
        raise ValueError("phrase_match needs at least one term")
    acc = postings.filter(F.col("term") == terms[0]).select(
        "doc_id", F.col("pos").alias("pos1")
    )
    for i, t in enumerate(terms[1:], start=1):
        nxt = postings.filter(F.col("term") == t).select(
            F.col("doc_id").alias("d2"), F.col("pos").alias("p2")
        )
        acc = acc.join(
            nxt,
            (F.col("doc_id") == F.col("d2"))
            & (F.col("p2") == F.col("pos1") + i),
        ).select("doc_id", "pos1")
    return acc.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_occ")
    )


def winnow_fingerprints(
    docs: DataFrame, k: int = 4, w: int = 4, text_col: str = "text"
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken
    2003, the MOSS algorithm): word k-grams -> 16-hex md5 hashes ->
    minimum hash per sliding window of w positions, leftmost-min
    tie-break folded into the ordering key (hash || lpad(ordinal)).

    Returns distinct (doc_id, fp) rows. Guarantee: two documents
    sharing any word run of length >= k + w - 1 share at least one
    selected fingerprint; selected density is ~2/(w+1) of all k-grams.

    Scale: one doc_id-partitioned window frame; only (doc_id, 16-char
    fp) survives — text never shuffles past the first projection.
    """
    from pyspark.sql.window import Window as W

    toks = docs.select(
        "doc_id",
        F.split(
            F.trim(
                F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
            ),
            " ",
        ).alias("t"),
    )
    flat = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, greatest(size(t) - {k - 1}, 1)),"
                f" i -> struct(i AS i, concat_ws(' ', slice(t, i, {k}))"
                " AS g))"
            )
        ).alias("s"),
    ).select(
        "doc_id",
        F.col("s.i").cast("long").alias("i"),
        F.concat(
            F.substring(F.md5(F.col("s.g")), 1, 16),
            F.lpad(F.col("s.i").cast("string"), 8, "0"),
        ).alias("key"),
    )
    wdoc = W.partitionBy("doc_id")
    wmin = (
        W.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(-(w - 1), W.currentRow)
    )
    return (
        flat.select(
            "doc_id",
            "i",
            F.count(F.lit(1)).over(wdoc).alias("ng"),
            F.min("key").over(wmin).alias("wmin"),
        )
        .filter(F.expr(f"i >= least({w}, ng)"))
        .select("doc_id", F.substring("wmin", 1, 16).alias("fp"))
        .distinct()
    )
