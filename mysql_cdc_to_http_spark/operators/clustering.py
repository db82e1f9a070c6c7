"""Distributed k-means (Lloyd iterations) over embedding columns.

The iterative-refinement pattern on Spark, sized for 100 TB corpora:
the MODEL (k × dim centroid matrix) is driver-sized by definition, the
DATA never leaves executors. Each iteration is

- assign: nearest-centroid argmin as ONE inline projection against
  centroid array literals (the operators/similarity.py:assign_buckets
  shape — no join, no explode, no shuffle of the corpus), then
- recompute: posexplode + two-phase hash agg whose shuffle carries
  pre-combined (cluster, pos, sum, count) tuples — centroid-table-sized
  — followed by a bounded k×dim collect back to the driver.

So per iteration the corpus is scanned once and shuffles nothing but
the partial-aggregated centroid table. Lineage stays flat because each
iteration's plan starts from literals, not from the previous plan (the
connected-components exponential-plan lesson does not bite here).

Determinism: init = the k lowest-id vectors; recomputed centroids round
to 6 dp (absorbs summation-order ulps — same contract as
pool_embeddings), so the trajectory is a pure function of the data and
is reproducible across engines/partitionings; assignment ties break to
the lowest cluster id. That is what makes the unrolled SQL oracle of
q_kmeans stable (argmin margins on real data dwarf cross-engine
float noise in the distances; verified at sf0.001/0.01/0.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from mysql_cdc_to_http_spark.operators import caching

from mysql_cdc_to_http_spark.operators.similarity import (
    _centroid_literals,
    as_double,
    sample_centroids,
)


def assign_clusters(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cv, cluster, dist): nearest centroid by squared L2, ties to
    the lowest cluster id. Pure projection — zero shuffle."""
    cents = _centroid_literals(centroids, normalize=False)
    c = df.select(F.col(id_col), as_double(vec_col).alias("cv"))
    sq = lambda x, y: (x - y) * (x - y)  # noqa: E731
    scored = c.withColumn(
        "__dists",
        F.transform(
            cents,
            lambda cent: F.aggregate(
                F.zip_with(F.col("cv"), cent, sq),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        ),
    )
    cluster = (
        F.array_position(F.col("__dists"), F.array_min(F.col("__dists"))) - 1
    ).cast("int")
    return scored.select(
        F.col(id_col),
        "cv",
        cluster.alias("cluster"),
        F.array_min("__dists").alias("dist"),
    )


def recompute_centroids(assigned: DataFrame, k: int) -> list[list[float]]:
    """Element-wise mean per cluster, rounded to 6 dp; bounded k×dim
    collect. Raises on an empty cluster — with lowest-id init every
    centroid IS a corpus point, so its cluster holds at least that
    point unless k exceeds the corpus; callers wanting soft behavior
    re-seed instead of silently carrying a stale centroid."""
    rows = (
        assigned.select("cluster", F.posexplode("cv"))
        .groupBy("cluster", "pos")
        .agg(F.round(F.avg("col"), 6).alias("m"))
        .collect()
    )
    by_cluster: dict[int, dict[int, float]] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster"], {})[r["pos"]] = r["m"]
    missing = sorted(set(range(k)) - set(by_cluster))
    if missing:
        raise ValueError(f"empty clusters after assignment: {missing}")
    return [
        [by_cluster[c][p] for p in sorted(by_cluster[c])] for c in range(k)
    ]


def kmeans(
    df: DataFrame,
    k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's algorithm, deterministic init (k lowest-id vectors),
    fixed iteration count. Returns the final assignment
    (id, cluster, dist)."""
    cents = sample_centroids(df, k, id_col, vec_col)
    assigned = assign_clusters(df, cents, id_col, vec_col)
    for _ in range(iters - 1):
        cents = recompute_centroids(assigned, k)
        assigned = assign_clusters(df, cents, id_col, vec_col)
    return assigned.drop("cv")


def product_quantize(
    df: DataFrame,
    m: int = 4,
    k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product quantization (the PQ of IVF-PQ): split each vector into
    ``m`` contiguous subvectors, k-means each subspace independently
    (same deterministic Lloyd as :func:`kmeans` — lowest-id init,
    6-dp-rounded recomputed centroids, lowest-id tie-break), and encode
    every vector as ``m`` small codes plus its reconstruction error
    (sum of subspace distances to the chosen codewords).

    Scale: the m codebooks are (m·k·dim/m) driver-sized models; per
    subspace the corpus cost is exactly kmeans' — assignment is a
    narrow projection against codeword literals, recompute shuffles
    pre-combined (cluster, pos, sum, count). The final per-id code
    join is m-way on the id key (each side already carries only
    id + code + dist — at 100 TB this joins codes, not vectors).
    Compression story: a 64-dim float vector (256 B) becomes m=4 bytes
    + shared codebooks — the memory step that makes billion-vector ANN
    indexes fit.

    Determinism matches kmeans', so the whole encoding — codes AND
    error — is SQL-oracle-able by unrolling each subspace's Lloyd
    iterations (q_pq_codes does exactly that).
    """
    dim = len(df.select(vec_col).first()[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    out = None
    for s in range(m):
        piece = df.select(
            F.col(id_col),
            F.slice(F.col(vec_col), s * sub + 1, sub).alias(vec_col),
        )
        enc = kmeans(piece, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
        enc = enc.select(
            F.col(id_col),
            F.col("cluster").alias(f"code_{s}"),
            F.col("dist").alias(f"__d{s}"),
        )
        out = enc if out is None else out.join(enc, id_col)
    err = sum(F.col(f"__d{s}") for s in range(m))
    return out.withColumn("recon_err", F.round(err, 6)).drop(
        *[f"__d{s}" for s in range(m)]
    )


def pq_codebooks(
    df: DataFrame,
    m: int = 4,
    k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """The m trained sub-codebooks behind :func:`product_quantize`
    (same deterministic Lloyd per contiguous subspace), as
    driver-sized m × k × (dim/m) lists — the shared model an ADC
    search needs next to the stored codes."""
    dim = len(df.select(vec_col).first()[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books = []
    for s in range(m):
        piece = df.select(
            F.col(id_col),
            F.slice(F.col(vec_col), s * sub + 1, sub).alias(vec_col),
        )
        cents = sample_centroids(piece, k, id_col, vec_col)
        for _ in range(iters - 1):
            assigned = assign_clusters(piece, cents, id_col, vec_col)
            cents = recompute_centroids(assigned, k)
        books.append(cents)
    return books


def pq_adc_topk(
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes — the search path of an
    IVF-PQ index. The query is NOT quantized: per subspace, its exact
    distance to each codeword is precomputed into an m × K table
    (driver-side, model-sized), and every stored vector's approximate
    distance is then just m table lookups on its codes:

        adc(v) = Σ_s  T_s[code_s(v)]

    — a pure projection over the CODES table (4 ints/row), never
    touching stored vectors. At billion-vector scale this is why PQ
    exists: the scan reads bytes, the arithmetic is m additions, and
    top-k is TakeOrderedAndProject. Distance tables fold left-to-right
    (identical order to the SQL oracle), so results are exact-compare
    against the unrolled-Lloyd oracle of q_knn_pq.
    """
    m = len(codebooks)
    sub = len(codebooks[0][0])
    tables = []
    for s in range(m):
        q_s = query_vec[s * sub : (s + 1) * sub]
        tables.append(
            [
                sum((q_s[x] - cw[x]) ** 2 for x in range(sub))
                for cw in codebooks[s]
            ]
        )
    adc = None
    for s, t in enumerate(tables):
        term = F.element_at(
            F.array(*[F.lit(float(v)) for v in t]), F.col(f"code_{s}") + 1
        )
        adc = term if adc is None else adc + term
    return (
        codes.select(F.col(id_col), F.round(adc, 6).alias("adc_dist"))
        .orderBy("adc_dist", id_col)
        .limit(k)
    )


def pca_power_scores(
    df: DataFrame,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PC1 scores by power iteration — iterative family #4 (after
    k-means, connected components, PageRank), sharing their
    model-on-driver / data-on-executors split.

    Math: w ← C·w / ‖C·w‖ with C the covariance matrix — but C (dim²)
    is NEVER materialized: C·w = Σᵢ sᵢ·(vᵢ−μ)/n with sᵢ = ⟨vᵢ−μ, w⟩,
    so each iteration is (a) a pure zip_with/aggregate PROJECTION
    computing sᵢ against μ/w literals — zero shuffle — and (b) one
    posexplode two-phase agg whose shuffle carries pre-combined
    (pos, partial-sum) pairs, dim-sized per task. Per iteration the
    corpus is scanned once; the dim-sized t vector is the only thing
    that reaches the driver.

    Determinism (what makes the unrolled SQL oracle exact): μ and each
    t are 6-dp rounded IN-ENGINE (absorbing summation-order ulps, the
    recompute_centroids contract); ‖t‖² sums EXACT DECIMAL squares of
    those 6-dp values (zero float noise), λ = IEEE sqrt of its double;
    the next w is t/λ quantized HALF_UP at 6 dp — java.math/DuckDB
    DECIMAL-cast semantics, reproduced on the driver via
    ``decimal.Decimal`` (binary floats never sit ON a 6-dp half
    boundary, so HALF_UP is unambiguous). w₀ = 1/√dim rounds to
    exactly 0.125 at dim=64 — representable, so all engines start
    identical. Returns (id, pc1) — the per-vector projection onto the
    final axis, 6-dp rounded.

    ``base`` is PERSISTED for the whole trajectory (ADVICE r6): the
    loop drives 4+iters driver-side actions over the same lineage, and
    without the cache each would rescan/recompute the upstream — worse,
    a NONDETERMINISTIC upstream (a sampled frame) would give μ, each t,
    and the final projection different data, breaking the documented
    exact-trajectory contract. The cache pins one materialization for
    all of them."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    q6 = Decimal("0.000001")
    base = caching.persist(
        df.select(F.col(id_col), as_double(vec_col).alias("cv"))
    )
    n = base.count()
    dim = len(base.select("cv").first()[0])
    mu_rows = (
        base.select(F.posexplode("cv"))
        .groupBy("pos")
        .agg(F.round(F.avg("col"), 6).alias("m"))
        .collect()
    )
    mu = [r["m"] for r in sorted(mu_rows, key=lambda r: r["pos"])]
    if len(mu) != dim:
        raise ValueError("ragged embedding column")
    w = [float(Decimal(1 / math.sqrt(dim)).quantize(q6, ROUND_HALF_UP))] * dim

    def centered_col():
        mu_lit = F.array(*[F.lit(v) for v in mu])
        return F.zip_with(F.col("cv"), mu_lit, lambda x, m: x - m)

    def proj_col(weights):
        w_lit = F.array(*[F.lit(v) for v in weights])
        return F.aggregate(
            F.zip_with(centered_col(), w_lit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    for _ in range(iters):
        t_rows = (
            base.select(proj_col(w).alias("s"), centered_col().alias("c"))
            .select("s", F.posexplode("c"))
            .groupBy("pos")
            .agg(
                F.round(
                    F.sum(F.col("col") * F.col("s")) / F.lit(float(n)), 6
                ).alias("t")
            )
            .collect()
        )
        t = [r["t"] for r in sorted(t_rows, key=lambda r: r["pos"])]
        lam2 = sum(Decimal(x).quantize(q6, ROUND_HALF_UP) ** 2 for x in t)
        lam = math.sqrt(float(lam2))
        if lam == 0.0:
            raise ValueError("degenerate corpus: C·w vanished")
        w = [
            float(Decimal(x / lam).quantize(q6, ROUND_HALF_UP)) for x in t
        ]
    return base.select(F.col(id_col), F.round(proj_col(w), 6).alias("pc1"))
