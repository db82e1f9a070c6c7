"""Duplicate-cluster resolution: connected components over near-dup
pairs (north-star dedup family — the step AFTER pair generation).

Pair lists (MinHash/SimHash/embedding LSH) are not deduplication yet: a
document can pair with many others, and transitive groups must collapse
to one canonical survivor. Components are computed with iterative
min-label propagation expressed in DataFrame ops:

    label(x) ← min(label(x), min over neighbors' labels)

Each round is one shuffle (groupBy on node); convergence is detected by
the SUM of labels (monotone non-increasing integers — equal sum ⇔ no
change), one cheap aggregate per round instead of a row diff. Rounds
needed = graph diameter; near-dup graphs are shallow (dup clusters are
cliques-ish, diameter ~2-4), so label propagation is the default.

For high-diameter graphs ``algorithm="star"`` switches the body to the
alternating large-star/small-star formulation (Kiveris et al.,
"Connected Components in MapReduce and Beyond"): each pair of phases
re-points edges at per-neighborhood minima, collapsing chains
exponentially — O(log d) pairs instead of d label rounds. A planted
diameter-1000 chain converges in ~10 pairs (tests/test_llm_ops.py).

Durability: both bodies truncate lineage every round. ``localCheckpoint``
(default) is fastest but its blocks die with an executor — fine on
local[32], wrong for thousand-round jobs on preemptible fleets. Pass
``checkpoint_dir`` to write RELIABLE checkpoints to DFS every
``checkpoint_every`` rounds (localCheckpoint between), bounding recompute
after executor loss to k rounds.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, functions as F

from mysql_cdc_to_http_spark.operators import caching


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 25,
    strict: bool = True,
    algorithm: str = "label",
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
) -> DataFrame:
    """Return (``id_col``, cluster_id): each node labeled with the
    MINIMUM node id reachable from it. Isolated nodes keep their own id.

    ``edges`` may be directed/unique pairs; they are symmetrized here.

    The fixpoint loop runs over the ACTIVE subgraph only — nodes with at
    least one edge. Isolated nodes cannot change label, so they bypass
    the loop and union back at the end: for dedup corpora (edges touch a
    small fraction of documents) this shrinks every round's shuffle from
    |V| to |V_active|. The edge list is persisted for the loop's
    lifetime — it is typically the output of an expensive pair pipeline
    (LSH + verify) that must not be re-evaluated per round.

    ``algorithm="label"`` (default) is min-label propagation — one
    shuffle per round, rounds = diameter, right for shallow dup-cluster
    graphs. ``algorithm="star"`` is alternating large-star/small-star —
    ~2 shuffles per phase but O(log diameter) pairs, right for chains /
    high-diameter graphs where label propagation would blow its budget.

    ``checkpoint_dir`` switches per-round lineage truncation from
    ``localCheckpoint`` (blocks forfeited on executor loss) to reliable
    ``checkpoint()`` into that directory every ``checkpoint_every``
    rounds — the durability story for long jobs on preemptible fleets.

    If the fixpoint is not reached within ``max_iter`` (graph diameter
    exceeds the budget), the labels are only partially propagated:
    ``strict=True`` (default) raises so an oracle-gated caller cannot
    silently return wrong components; ``strict=False`` downgrades to a
    warning and returns the partial labels.
    """
    if algorithm not in ("label", "star"):
        raise ValueError(f"unknown algorithm {algorithm!r}")
    sc = edges.sparkSession.sparkContext
    # setCheckpointDir is session-global; remember the caller's dir so the
    # fixpoint loop doesn't silently redirect OTHER jobs' reliable
    # checkpoints for the rest of the session (restored in finally below).
    prior_ckpt_dir = sc.getCheckpointDir() if checkpoint_dir is not None else None
    if checkpoint_dir is not None:
        sc.setCheckpointDir(checkpoint_dir)

    try:
        def _pin(df: DataFrame, rnd: int) -> DataFrame:
            if checkpoint_dir is not None and rnd % checkpoint_every == 0:
                return df.checkpoint()
            return df.localCheckpoint()
        # symmetrize via explode, not unionAll: one scan of the (typically
        # expensive LSH-pipeline) edge frame instead of two
        both = F.explode(
            F.array(
                F.struct(
                    F.col(src_col).alias("__s"), F.col(dst_col).alias("__d")
                ),
                F.struct(
                    F.col(dst_col).alias("__s"), F.col(src_col).alias("__d")
                ),
            )
        )
        sym = caching.persist(
            edges.select(both.alias("__e")).select("__e.__s", "__e.__d")
        )
        all_nodes = nodes.select(F.col(id_col).alias("__node"))
        # Checkpoint (not persist) per round: persist caches DATA but keeps
        # the logical plan, and each round's plan embeds the previous round's
        # TWICE (labels feeds both join inputs) — exponential Catalyst
        # re-analysis that stalls past ~8 rounds. Checkpointing truncates
        # lineage so every round re-plans a constant-size plan.
        if algorithm == "star":
            # symmetric edge list ⇒ the __s column alone covers every endpoint
            endpoints = sym.select(F.col("__s").alias("__node")).distinct()
            star_labels, converged = _star_fixpoint(sym, _pin, max_iter)
            # behavioral parity with the label body: every ACTIVE node gets a
            # label (a node whose only edge was a self-loop drops out of the
            # star edge set — it is its own component), restricted to nodes
            # present in ``nodes`` even if edges mention others.
            labels = (
                all_nodes.join(endpoints, "__node", "left_semi")
                .join(star_labels, "__node", "left")
                .select(
                    "__node",
                    F.coalesce("__label", F.col("__node")).alias("__label"),
                )
            )
        else:
            labels, converged = _label_fixpoint(sym, all_nodes, _pin, max_iter)
            # the init groupBy's keys ARE the active set — no separate
            # distinct over the edge list
            endpoints = labels.select("__node")
        if not converged:
            msg = (
                f"connected_components: no fixpoint within max_iter={max_iter} "
                f"rounds — labels are PARTIALLY propagated (graph diameter "
                f"exceeds the iteration budget; raise max_iter)"
            )
            if strict:
                raise RuntimeError(msg)
            warnings.warn(msg)
        isolated = all_nodes.join(endpoints, "__node", "left_anti").select(
            "__node", F.col("__node").alias("__label")
        )
        # labels is checkpoint-backed (freed by GC); only sym needs release
        return labels.unionAll(isolated).select(
            F.col("__node").alias(id_col), F.col("__label").alias("cluster_id")
        )
    finally:
        # Restore the caller's reliable-checkpoint dir. If none was
        # set before, Spark has no public unset — the dir then
        # remains (documented session-level side effect).
        if prior_ckpt_dir is not None and prior_ckpt_dir != checkpoint_dir:
            sc.setCheckpointDir(prior_ckpt_dir)


def _label_fixpoint(sym, all_nodes, pin, max_iter):
    """Min-label propagation over the active subgraph. Returns
    (labels ``(__node, __label)``, converged).

    Initialization fuses the FIRST propagation hop: label(u) =
    min(u, Γ(u)) straight from one groupBy over the symmetric edges —
    the same shuffle that would otherwise only enumerate endpoints, so
    shallow dup-cluster graphs (diameter 2-3) save a whole loop round
    (join + groupBy + checkpoint + convergence probe). Assumes edge
    endpoints are drawn from ``nodes`` (every caller builds edges from
    the node corpus); an out-of-corpus endpoint would contribute its raw
    id here, where the old self-init ignored it."""
    labels = pin(
        sym.groupBy("__s")
        .agg(F.min("__d").alias("__m"))
        .select(
            F.col("__s").alias("__node"),
            F.least(F.col("__s"), F.col("__m")).alias("__label"),
        )
        .join(all_nodes, "__node", "left_semi"),
        0,
    )
    prev_sum = labels.agg(F.sum("__label")).collect()[0][0]
    for rnd in range(1, max_iter + 1):
        neigh = (
            sym.join(labels, sym["__d"] == labels["__node"])
            .groupBy("__s")
            .agg(F.min("__label").alias("__nlabel"))
        )
        labels = pin(
            labels.join(neigh, labels["__node"] == neigh["__s"], "left")
            .select(
                "__node",
                F.least(
                    F.col("__label"),
                    F.coalesce("__nlabel", F.col("__label")),
                ).alias("__label"),
            ),
            rnd,
        )
        # one aggregate per round; labels only ever decrease AND the
        # update is a deterministic function of the labels, so an equal
        # sum means one application changed nothing — a true fixpoint
        cur_sum = labels.agg(F.sum("__label")).collect()[0][0]
        if cur_sum == prev_sum:
            return labels, True
        prev_sum = cur_sum
    return labels, False


def _neighborhood_mins(e: DataFrame) -> DataFrame:
    """(__s, __m): min of Γ(u) ∪ {u} per node of a symmetric edge set."""
    return (
        e.groupBy("__s")
        .agg(F.min("__d").alias("__m0"))
        .select("__s", F.least("__m0", "__s").alias("__m"))
    )


def _resymmetrize(pairs: DataFrame) -> DataFrame:
    """Undirected-distinct form of emitted (a, b) pairs, self-loops out."""
    both = F.explode(
        F.array(
            F.struct(F.col("__a").alias("__s"), F.col("__b").alias("__d")),
            F.struct(F.col("__b").alias("__s"), F.col("__a").alias("__d")),
        )
    )
    return (
        pairs.filter(F.col("__a") != F.col("__b"))
        .select(both.alias("__e"))
        .select("__e.__s", "__e.__d")
        .distinct()
    )


def _star_fixpoint(sym, pin, max_iter):
    """Alternating large-star/small-star (Kiveris et al.). Each pair of
    phases re-points every edge at a neighborhood minimum:

    - large-star(u): for v ∈ Γ(u), v > u emit (v, min(Γ(u) ∪ {u}))
    - small-star(u): for v ∈ Γ(u), v ≤ u emit (v, m), plus (u, m)

    Chains collapse exponentially, so pairs needed = O(log diameter).
    Convergence = the edge set reproduces itself over a full pair —
    checked EXACTLY (count + multiset difference), because unlike label
    sums, per-node minima can be pair-wise stable mid-run without the
    edge set being a fixpoint. At the fixpoint the graph is a star
    forest and min(Γ(u) ∪ {u}) is the component minimum. Returns
    (labels, converged); ``max_iter`` counts phase PAIRS."""
    e = pin(sym.filter(F.col("__s") != F.col("__d")).distinct(), 0)
    n_edges = e.count()
    for rnd in range(1, max_iter + 1):
        mins = _neighborhood_mins(e)
        large = (
            e.join(mins, "__s")
            .filter(F.col("__d") > F.col("__s"))
            .select(F.col("__d").alias("__a"), F.col("__m").alias("__b"))
        )
        e2 = _resymmetrize(large)
        mins2 = _neighborhood_mins(e2)
        small = (
            e2.join(mins2, "__s")
            .filter(F.col("__d") < F.col("__s"))
            .select(F.col("__d").alias("__a"), F.col("__m").alias("__b"))
            .unionAll(
                mins2.select(
                    F.col("__s").alias("__a"), F.col("__m").alias("__b")
                )
            )
        )
        new_e = pin(_resymmetrize(small), rnd)
        new_n = new_e.count()
        if new_n == n_edges and new_e.exceptAll(e).isEmpty():
            labels = _neighborhood_mins(new_e).select(
                F.col("__s").alias("__node"), F.col("__m").alias("__label")
            )
            return labels, True
        e, n_edges = new_e, new_n
    labels = _neighborhood_mins(e).select(
        F.col("__s").alias("__node"), F.col("__m").alias("__label")
    )
    return labels, False


def canonicalize_clusters(
    components: DataFrame, id_col: str = "id"
) -> DataFrame:
    """Mark the survivor per cluster (lowest id = the cluster label) —
    the row a dedup pipeline keeps; everything else is dropped or mapped
    to the canonical id."""
    return components.select(
        id_col,
        "cluster_id",
        (F.col(id_col) == F.col("cluster_id")).alias("is_canonical"),
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 2,
    damping: float = 0.85,
    round_iter: int = 8,
) -> DataFrame:
    """Fixed-iteration PageRank over an edge list → (node, pr).

    The second distributed iterative algorithm family member (with
    k-means, operators/clustering.py, and connected components above).
    Per iteration: contributions = one join on src + one groupBy on dst
    (the canonical two-shuffle PageRank round); rank vector stays
    distributed — nothing node-sized ever reaches the driver (the only
    driver scalar is the node COUNT). Dangling-node mass is NOT
    redistributed (the common simplification; ranks then sum to < 1 in
    graphs with sinks — deterministic, engines agree).

    ``round_iter``-dp rounding of the rank after every iteration makes
    the trajectory engine-invariant (the q_kmeans centroid-rounding
    technique, operators/clustering.py): per-node contribution sums are
    float additions in engine-dependent order, and an unrounded ulp
    wobble would compound across iterations.

    Fixed ``iterations`` (not convergence-tested) keeps the plan static
    and SQL-unrollable; at web-graph scale you would add the
    localCheckpoint-per-round lineage truncation used by
    ``connected_components`` above — with 2-3 iterations the flat plan
    is cheaper.

    ``edges`` and the derived node set are persisted for the loop:
    every iteration (and the node count) consumes them, and an
    unpersisted edge lineage re-runs its upstream joins once per round —
    measured 6.5× worse at sf0.1 on the trade graph."""
    edges = caching.persist(edges)
    nodes = caching.persist(
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    n_nodes = nodes.count()  # model-sized driver scalar
    # out-degree rides on the edge ONCE (persisted) instead of a second
    # per-iteration join — each round is then exactly one join + one agg
    outdeg = edges.groupBy(src).agg(F.count(F.lit(1)).alias("__outdeg"))
    edges_w = caching.persist(edges.join(outdeg, src))
    pr = nodes.select(
        "node", F.lit(round(1.0 / n_nodes, round_iter)).alias("pr")
    )
    base = (1.0 - damping) / n_nodes
    for _ in range(iterations):
        contrib = (
            edges_w.join(pr, edges_w[src] == pr["node"])
            .select(
                F.col(dst).alias("node"),
                (F.col("pr") / F.col("__outdeg")).alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").alias("__contrib"))
        )
        pr = nodes.join(contrib, "node", "left").select(
            "node",
            F.round(
                F.lit(base)
                + F.lit(damping) * F.coalesce(F.col("__contrib"), F.lit(0.0)),
                round_iter,
            ).alias("pr"),
        )
    return pr


# Executors must not need this repo on their PYTHONPATH (driver contract
# imports by path).
import sys as _sys
from pyspark import cloudpickle as _cloudpickle
_cloudpickle.register_pickle_by_value(_sys.modules[__name__])


def oriented_edges(
    edges: DataFrame, src: str = "u", dst: str = "v"
) -> DataFrame:
    """Degree-orient an undirected canonical edge list: every edge is
    emitted from its (degree, id)-SMALLER endpoint. Returns columns
    ``s, t, ds, dt`` (source, target, their full-graph degrees).

    Split out of the triangle count (r8 verdict #1) so the oriented
    list can be built ONCE, persisted, and shared by the exact and
    DOULION-sampled triangle forms: orientation is a total order on
    NODES, so any edge-SUBSET of this list is itself consistently
    oriented — a sampled subgraph can be counted by filtering these
    rows without recomputing degrees (a subgraph's own degrees would
    differ, but any consistent total order counts each triangle exactly
    once; keeping the full-graph order also keeps the out-degree bound,
    since subgraph out-degrees only shrink)."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # (degree, id) total order: lower degree first, id tiebreak
    da = deg.select(
        F.col("n").alias("a"), F.col("d").alias("da")
    )
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    ranked = e.join(da, "a").join(db, "b")
    lt = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    return ranked.select(
        F.when(lt, F.col("a")).otherwise(F.col("b")).alias("s"),
        F.when(lt, F.col("b")).otherwise(F.col("a")).alias("t"),
        F.when(lt, F.col("da")).otherwise(F.col("db")).alias("ds"),
        F.when(lt, F.col("db")).otherwise(F.col("da")).alias("dt"),
    )


def triangle_count_oriented(oriented: DataFrame) -> DataFrame:
    """Wedge-join triangle count over an already-oriented edge list
    (``s, t, ds, dt`` — see ``oriented_edges``). 1-row result."""
    w1 = oriented.select("s", F.col("t").alias("t1"), F.col("dt").alias("d1"))
    w2 = oriented.select("s", F.col("t").alias("t2"), F.col("dt").alias("d2"))
    # shuffle-hash, not sort-merge: the wedge stream is quadratic in
    # out-degree (the largest relation this operator touches) — never
    # sort it; build the hash table on the edge-sized side instead.
    wedges = w1.join(w2.hint("shuffle_hash"), "s").filter(
        (F.col("d1") < F.col("d2"))
        | ((F.col("d1") == F.col("d2")) & (F.col("t1") < F.col("t2")))
    )
    closing = oriented.select(
        F.col("s").alias("t1"), F.col("t").alias("t2")
    )
    return (
        wedges.join(closing.hint("shuffle_hash"), ["t1", "t2"], "inner")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def basket_pairs(
    df: DataFrame,
    order_col: str,
    item_col: str,
    cap: int = 32,
    salt: str = "basket-v1",
) -> DataFrame:
    """Within-basket ordered item pairs (x ≠ y) with a HARD per-basket
    size cap — the bounded-fan-out co-occurrence pair generator.

    The naive within-basket self-join emits k² rows for a k-item
    basket: fine when the data model bounds k (TPC-H orders carry ≤7
    lines), catastrophic on real basket data where one crawler/bot
    basket of 10⁵ items would emit 10¹⁰ rows through a single task
    ("the curse of the last reducer", the same failure
    oriented_edges' degree-orientation guards against). The cap
    makes the bound structural instead of data-model-dependent:

    1. Rank items within each basket by ``md5(salt|order|item)``
       (item-id tiebreak) — a deterministic pseudo-random order, so
       truncation keeps an unbiased sample of the basket rather than
       the lowest ids.
    2. Keep ranks ≤ cap, THEN self-join. Per-basket fan-out is ≤
       cap·(cap−1); the largest task is bounded regardless of input.

    Recall contract: EXACT for every basket with ≤ cap items (nothing
    is dropped — rank filter passes all rows, so the pair set is
    identical to the uncapped join); for larger baskets, pairs among a
    deterministic cap-sized md5-sample of its items. Cross-engine
    reproducible: md5 ranking is the engine's determinism primitive —
    any SQL engine recomputes the identical truncation, which keeps
    capped queries DuckDB-oracle-able (q_basket_lift).

    Returns columns ``x``, ``y`` (one row per ordered pair per basket;
    aggregate downstream)."""
    from pyspark.sql.window import Window as W

    if cap < 2:
        raise ValueError(f"cap must be >= 2, got {cap}")
    rk = F.row_number().over(
        W.partitionBy(order_col).orderBy(
            F.md5(
                F.concat_ws(
                    "|",
                    F.lit(salt),
                    F.col(order_col).cast("string"),
                    F.col(item_col).cast("string"),
                )
            ),
            item_col,
        )
    )
    capped = (
        df.select(order_col, item_col)
        .withColumn("__rk", rk)
        .filter(F.col("__rk") <= cap)
        .drop("__rk")
    )
    b = capped.select(
        F.col(order_col).alias("__o2"), F.col(item_col).alias("y")
    )
    return (
        capped.join(b, F.col(order_col) == F.col("__o2"))
        .filter(F.col(item_col) != F.col("y"))
        .select(F.col(item_col).alias("x"), "y")
    )
