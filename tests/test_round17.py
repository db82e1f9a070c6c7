"""Round-17 planted known-answer fixtures (r16 verdict #7) + focused
pins for round-17 operator-internal rewrites.

The r16 rewrites that changed computation shape — q_markov_entropy's
driver-side integer power iteration, q_ivf_probe_sweep's score-once
sweep, q_forget_audit's one-pass semi/anti split, q_quantile_match's
single-aggregate rank-map size — were verified by oracle parity at 3
SFs, but a mirrored oracle can share a blind spot with the engine. The
tests here pin HAND-COMPUTED ledgers (pure-Python arithmetic on planted
rows, independent of both engines) or re-derive the answer with the
ORIGINAL operator form.

Round-17 additions pinned here as well:
- the `_pin_ranges` fix in operators/sampling.py (two-level prefix
  operators must stay exact when their upstream is an InMemoryRelation —
  the r17 q_lorenz_curve off-by-one regression),
- the X46 per-row edge builder (must equal the old union+self-join),
- the co-purchase collect_set edge builder (must equal the old
  distinct+self-join),
- dsir_scores' lm-from-doc_counts derivation (hand-computed scores).
"""

from __future__ import annotations

import datetime
import hashlib
import math

import pytest

from pyspark.sql import functions as F

from mysql_cdc_to_http_spark.queries import all_queries

QUERIES = all_queries()


def _write_events(spark, tmp, rows):
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp / "events.parquet"))
    return str(tmp)


def _ts(i):
    return datetime.datetime(2024, 1, 1) + datetime.timedelta(minutes=i)


# ---------------------------------------------------------------------------
# q_markov_entropy — hand-computed 2-state ledger
# ---------------------------------------------------------------------------
def test_markov_entropy_planted_ledger(spark, tmp_path):
    """user 1: A,B,A → transitions A→B, B→A; user 2: B,B → B→B.

    Hand arithmetic (exact ints, // truncation):
      counts c: (A,B,1), (B,A,1), (B,B,1); t_A=1, t_B=2; k=2
      π0 = {A:500000, B:500000}
      iter1: A:250000, B:750000   (B→A: 500000//2; B gets 500000+250000)
      iter2: A:375000, B:625000
      iter3: A:312500, B:687500
      h_nano = Σ π_i·c·(round(ln t_i·1000) − round(ln c·1000)) // t_i
             = 0 (A row) + 687500·693//2 ·2 rows = 476437500
    """
    rows = [
        (1, _ts(0), 1, "A", 1.0, "{}"),
        (2, _ts(1), 1, "B", 1.0, "{}"),
        (3, _ts(2), 1, "A", 1.0, "{}"),
        (4, _ts(3), 2, "B", 1.0, "{}"),
        (5, _ts(4), 2, "B", 1.0, "{}"),
    ]
    d = _write_events(spark, tmp_path, rows)
    out = {
        r["state"]: (r["pi_micro"], r["h_nano"], r["n_states"])
        for r in QUERIES["q_markov_entropy"](spark, d).collect()
    }
    assert out == {
        "A": (312500, 476437500, 2),
        "B": (687500, 476437500, 2),
    }


def test_markov_entropy_empty_input(spark, tmp_path):
    """No multi-event users → no transitions. The pre-r16 dataflow form
    returned an empty frame; the r16 collected form must too (r16
    ADVICE: 1000000 // k raised ZeroDivisionError)."""
    rows = [
        (1, _ts(0), 1, "A", 1.0, "{}"),
        (2, _ts(1), 2, "B", 1.0, "{}"),
    ]
    d = _write_events(spark, tmp_path, rows)
    df = QUERIES["q_markov_entropy"](spark, d)
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == [
        "state", "pi_micro", "h_nano", "n_states",
    ]


# ---------------------------------------------------------------------------
# q_quantile_match — hand-computed rank mapping
# ---------------------------------------------------------------------------
def test_quantile_match_planted_ledger(spark, tmp_path):
    """Even slice (A): values 10,20,30,40 (na=4); odd slice (B): 15,35
    (nb=2). Mapping rank r_B → A's rank (r·na + nb − 1) // nb:
    1 → 5//2 = 2 → 20.0;  2 → 9//2 = 4 → 40.0.
    Ledger: n=2, mean=30.0, min=20.0, max=40.0."""
    rows = [
        (0, _ts(0), 1, "x", 10.0, "{}"),
        (2, _ts(1), 1, "x", 20.0, "{}"),
        (4, _ts(2), 1, "x", 30.0, "{}"),
        (6, _ts(3), 1, "x", 40.0, "{}"),
        (1, _ts(4), 1, "x", 15.0, "{}"),
        (3, _ts(5), 1, "x", 35.0, "{}"),
    ]
    d = _write_events(spark, tmp_path, rows)
    got = QUERIES["q_quantile_match"](spark, d).collect()
    assert len(got) == 1
    r = got[0]
    assert (
        r["grp"], r["n"], r["mean_matched"], r["min_matched"],
        r["max_matched"],
    ) == ("x", 2, 30.0, 20.0, 40.0)


# ---------------------------------------------------------------------------
# q_forget_audit — purge cohort recomputed in pure Python
# ---------------------------------------------------------------------------
def _split_bucket_py(key: int, salt: str = "forget-v1") -> int:
    h = hashlib.md5(f"{salt}|{key}".encode()).hexdigest()[:6]
    return int(h, 16) % 100


def test_forget_audit_planted_ledger(spark, tmp_path):
    """150 customers; orders/lineitem/events fan out deterministically.
    Every expected count is computed here with hashlib + dict math —
    no SQL engine involved."""
    custkeys = list(range(1, 151))
    forget = {c for c in custkeys if _split_bucket_py(c) < 2}
    assert forget, "planted fixture must contain at least one purge row"

    cust_rows = [(c, f"c{c}", 0, 0.0, "BUILDING") for c in custkeys]
    spark.createDataFrame(
        cust_rows,
        "c_custkey long, c_name string, c_nationkey int,"
        " c_acctbal double, c_mktsegment string",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "customer.parquet")
    )
    # 2 orders per customer
    order_rows = []
    for c in custkeys:
        for j in (0, 1):
            order_rows.append(
                (c * 10 + j, c, "O", 1.0, _ts(c * 2 + j), "1-URGENT")
            )
    spark.createDataFrame(
        order_rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "orders.parquet")
    )
    # 3 lineitems per order
    li_rows = []
    for (ok, c, *_rest) in order_rows:
        for ln in (1, 2, 3):
            li_rows.append(
                (ok, 1, 1, ln, 1.0, 1.0, 0.0, 0.0, "N", "O", _ts(ok + ln))
            )
    spark.createDataFrame(
        li_rows,
        "l_orderkey long, l_partkey long, l_suppkey long,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate timestamp",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "lineitem.parquet")
    )
    # events: user_id cycles over 1..200 (some users are NOT customers)
    ev_rows = [
        (i, _ts(i), (i % 200) + 1, "view", 1.0, "{}") for i in range(400)
    ]
    _write_events(spark, tmp_path, ev_rows)

    n_cust = len(custkeys)
    purged_orders = {ok for (ok, c, *_r) in order_rows if c in forget}
    exp = {
        "customer": (len(forget), n_cust - len(forget)),
        "orders": (len(purged_orders), len(order_rows) - len(purged_orders)),
        "lineitem": (
            3 * len(purged_orders),
            len(li_rows) - 3 * len(purged_orders),
        ),
        "events": (
            sum(1 for (_i, _t, u, *_r) in ev_rows if u in forget),
            sum(1 for (_i, _t, u, *_r) in ev_rows if u not in forget),
        ),
    }
    got = {
        r["tbl"]: (r["n_purged"], r["n_kept"])
        for r in QUERIES["q_forget_audit"](spark, str(tmp_path)).collect()
    }
    assert got == exp


# ---------------------------------------------------------------------------
# q_ivf_probe_sweep — the score-once sweep must equal per-point ivf_topk
# ---------------------------------------------------------------------------
def test_ivf_probe_sweep_matches_per_point_ivf_topk(spark, sf_dir):
    """Recompute every sweep point with the ORIGINAL per-point form
    (one ivf_topk call per nprobe + a fresh truth join) and require the
    published (nprobe, hits, recall, scanned_rows) rows to match."""
    from mysql_cdc_to_http_spark.operators.caching import release_all_cached
    from mysql_cdc_to_http_spark.operators.similarity import (
        assign_buckets,
        cosine_topk_bruteforce,
        ivf_topk,
        sample_centroids,
    )
    from mysql_cdc_to_http_spark.queries.llm import _IVF_SWEEP_NPROBES
    from mysql_cdc_to_http_spark.catalog import load_table

    got = {
        r["nprobe"]: (r["hits"], r["recall_micro"], r["scanned_rows"])
        for r in QUERIES["q_ivf_probe_sweep"](spark, sf_dir).collect()
    }
    release_all_cached()

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    corpus = emb.filter(F.col("vec_id") >= 10)
    centroids = sample_centroids(corpus, n_centroids=16)
    bucketed = assign_buckets(corpus, centroids)
    truth = {
        (r["query_id"], r["corpus_id"])
        for r in cosine_topk_bruteforce(queries, corpus, k=3)
        .select("query_id", "corpus_id")
        .collect()
    }
    n_queries = queries.count()
    bsizes = {
        r["bucket"]: r["n"]
        for r in bucketed.groupBy("bucket").agg(F.count("*").alias("n"))
        .collect()
    }
    for np_ in _IVF_SWEEP_NPROBES:
        ivf = ivf_topk(queries, bucketed, centroids, k=3, nprobe=np_)
        pairs = {
            (r["query_id"], r["corpus_id"])
            for r in ivf.select("query_id", "corpus_id").collect()
        }
        hits = len(pairs & truth)
        recall = hits * 1000000 // (n_queries * 3)
        # scanned rows: sum of probed-bucket sizes over queries — rebuild
        # the probe list exactly as ivf_topk does (slice of sorted sims)
        from mysql_cdc_to_http_spark.operators.similarity import (
            _centroid_literals,
            as_double,
            dot,
            l2_norm,
        )

        cents = _centroid_literals(centroids, normalize=True)
        q = queries.select(
            F.col("vec_id").alias("query_id"),
            as_double("embedding").alias("qv"),
        ).withColumn("__qn", l2_norm(F.col("qv")))
        sims = q.withColumn(
            "__sims",
            F.transform(
                cents,
                lambda cent: F.round(
                    dot(F.col("qv"), cent) / F.col("__qn"), 6
                ),
            ),
        )
        ranked = F.slice(
            F.array_sort(
                F.zip_with(
                    F.col("__sims"),
                    F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
                    lambda s, i: F.struct((-s).alias("neg"), i.alias("cid")),
                )
            ),
            1,
            np_,
        )
        probe_rows = sims.select(
            F.explode(ranked).alias("p")
        ).select(F.col("p.cid").alias("bucket")).collect()
        scanned = sum(bsizes.get(r["bucket"], 0) for r in probe_rows)
        assert got[np_] == (hits, recall, scanned), (
            np_, got[np_], (hits, recall, scanned),
        )


# ---------------------------------------------------------------------------
# X46 per-row edge builder == old union + self-join form
# ---------------------------------------------------------------------------
def test_x46_edges_equal_self_join_form(spark, sf_dir):
    from mysql_cdc_to_http_spark.catalog import load_table
    from mysql_cdc_to_http_spark.queries.llm import (
        _x46_edges,
        _x46_variant_texts,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    new = {
        (r["src"], r["dst"])
        for r in _x46_edges(_x46_variant_texts(docs)).collect()
    }
    # the pre-r17 form, verbatim
    v1 = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr("substring(lower(text), instr(lower(text), ' ') + 1)").alias(
            "text"
        ),
    )
    v2 = v1.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
    )
    corpus = docs.select(
        "doc_id", F.lower("text").alias("text")
    ).unionByName(v1).unionByName(v2)
    toks = corpus.select(
        "doc_id", F.array_distinct(F.split("text", r"\s+")).alias("t")
    )
    a = toks.select(F.col("doc_id").alias("src"), F.col("t").alias("ta"))
    b = toks.select(F.col("doc_id").alias("dst"), F.col("t").alias("tb"))
    cand = a.join(
        b, (F.col("dst") == F.col("src") + 100000) & (F.col("src") < 200000)
    )
    jacc = F.size(F.array_intersect("ta", "tb")).cast("double") / F.size(
        F.array_union("ta", "tb")
    )
    old = {
        (r["src"], r["dst"])
        for r in cand.filter(jacc >= 0.5).select("src", "dst").collect()
    }
    assert new == old and len(new) > 0


# ---------------------------------------------------------------------------
# co-purchase collect_set edge builder == old distinct + self-join form
# ---------------------------------------------------------------------------
def test_copurchase_edges_equal_join_form(spark, sf_dir):
    from mysql_cdc_to_http_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    grp = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("members")
    )
    new = {
        (r["u"], r["v"])
        for r in grp.select(F.explode("members").alias("u"), "members")
        .select("u", F.explode("members").alias("v"))
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
        .collect()
    }
    pr = li.select("l_orderkey", "l_partkey").distinct()
    b = pr.select(
        F.col("l_orderkey").alias("o2"), F.col("l_partkey").alias("v")
    )
    old = {
        (r["u"], r["v"])
        for r in pr.join(b, (F.col("l_orderkey") == F.col("o2")))
        .filter(F.col("l_partkey") < F.col("v"))
        .select(F.col("l_partkey").alias("u"), "v")
        .distinct()
        .collect()
    }
    assert new == old and len(new) > 0


# ---------------------------------------------------------------------------
# _pin_ranges: two-level prefix ops stay exact over a CACHED upstream
# (the r17 q_lorenz_curve regression: un-pinned, the window pass and the
# totals pass could draw different reservoir-sampled range boundaries)
# ---------------------------------------------------------------------------
def test_ranked_prefix_sums_exact_over_cached_upstream(spark):
    from mysql_cdc_to_http_spark.operators.sampling import (
        ranked_prefix_sums,
    )

    n = 5000
    df = (
        spark.range(n)
        .select(
            (F.col("id") * 7919 % n).alias("k"),
            F.lit(1).cast("bigint").alias("one"),
        )
        .persist()  # the trigger: InMemoryRelation upstream
    )
    out = ranked_prefix_sums(
        df, [F.col("k").asc()], ["one"], n_ranges=16
    ).select("k", F.col("one__cum").alias("c"))
    rows = {r["k"]: r["c"] for r in out.collect()}
    # k is a permutation of 0..n-1, so cum at k must be k+1 exactly
    bad = [(k, c) for k, c in rows.items() if c != k + 1]
    assert not bad, bad[:10]
    df.unpersist()


def test_grouped_ranks_exact_over_cached_upstream(spark):
    from mysql_cdc_to_http_spark.operators.sampling import grouped_ranks

    n = 4000
    df = (
        spark.range(n)
        .select(
            (F.col("id") % 4).cast("string").alias("g"),
            (F.col("id") * 6007 % n).alias("v"),
        )
        .persist()
    )
    out = grouped_ranks(df, ["g"], [F.col("v")], n_ranges=16)
    rows = [(r["g"], r["v"], r["__grank"], r["__gn"]) for r in out.collect()]
    by_g: dict = {}
    for g, v, rk, gn in rows:
        by_g.setdefault(g, []).append((v, rk, gn))
    for g, items in by_g.items():
        items.sort()
        assert all(gn == len(items) for _v, _rk, gn in items)
        assert [rk for _v, rk, _gn in items] == list(
            range(1, len(items) + 1)
        ), f"group {g} ranks wrong"
    df.unpersist()


# ---------------------------------------------------------------------------
# dsir_scores — hand-computed scores on a planted corpus
# ---------------------------------------------------------------------------
def test_dsir_scores_planted_exact(spark):
    from mysql_cdc_to_http_spark.operators.curation import dsir_scores

    docs = [
        (1, "en", "the cat sat on the mat"),
        (2, "en", "the dog sat"),
        (3, "de", "der hund sitzt auf der matte"),
        (4, "de", "cat"),  # 1-token doc → one truncated "bigram"
    ]
    df = spark.createDataFrame(docs, "doc_id long, lang string, text string")

    def grams(text):
        toks = text.lower().split()
        k = max(len(toks) - 1, 1)
        return [" ".join(toks[i : i + 2]) for i in range(k)]

    B = 256
    bkt = lambda g: int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % B
    n_t: dict = {}
    n_s: dict = {}
    per_doc: dict = {}
    for did, lang, text in docs:
        cnt: dict = {}
        for g in grams(text):
            b = bkt(g)
            cnt[b] = cnt.get(b, 0) + 1
            n_s[b] = n_s.get(b, 0) + 1
            if lang == "en":
                n_t[b] = n_t.get(b, 0) + 1
        per_doc[did] = cnt
    nt, ns = sum(n_t.values()), sum(n_s.values())
    exp = {}
    for did, cnt in per_doc.items():
        raw = sum(
            c * (math.log(n_t.get(b, 0) + 1) - math.log(n_s.get(b, 0) + 1))
            for b, c in cnt.items()
        ) + sum(cnt.values()) * (math.log(ns + B) - math.log(nt + B))
        exp[did] = (sum(cnt.values()), round(raw, 6))
    got = {
        r["doc_id"]: (r["n_grams"], r["score"], r["selected"])
        for r in dsir_scores(df, F.col("lang") == "en").collect()
    }
    for did, (ng, sc) in exp.items():
        g_ng, g_sc, g_sel = got[did]
        assert g_ng == ng, (did, g_ng, ng)
        assert abs(g_sc - sc) < 5e-6, (did, g_sc, sc)
        assert g_sel == (1 if g_sc > 0 else 0)
