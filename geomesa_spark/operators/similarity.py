"""Approximate-nearest-neighbor search over embedding columns.

Training-data-pipeline operator (no GeoMesa analog; the kNN ring-expansion
pattern of knn.py is its spatial cousin). Paths, in increasing scale:

- brute_force_topk: exact cosine top-k. The dot products run JVM-side via
  zip_with/aggregate on the embedding arrays — no Python — so the only cost
  is the Q x N candidate expansion (Q broadcast), then a window top-k.
- lsh_topk: scale path. Random-hyperplane LSH (Charikar 2002) bucketing via
  one Arrow-batched UDF; queries probe their own bucket (+ multiprobe
  neighbors), so each query scores only its bucket's vectors. Recall is
  tunable by (n_planes, n_tables); exactness is NOT guaranteed — the bench
  compares it against brute force for recall.
- ivf_topk / ivf_topk_native: data-adaptive routing — each vector joins its
  nearest coarse-centroid list; queries probe n_probe lists and exact-rerank
  only those candidates.
- train_pq_codebooks / pq_encode / pq_topk: IVF-PQ (Jegou et al. 2011), the
  100-TB layout — candidates are scored from m-byte product-quantization
  codes via broadcast lookup tables, so neither the candidate shuffle nor
  the scoring stage ever touches a raw vector; exact cosine returns only
  for the Q x rerank survivors.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T


def _norm_expr(col: str) -> str:
    return (
        f"sqrt(aggregate(transform({col}, x -> cast(x as double) * x), "
        f"cast(0.0 as double), (acc, x) -> acc + x))"
    )


def _dot_expr(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
        f"cast(0.0 as double), (acc, x) -> acc + x)"
    )


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k: -> (qid, vec_id, sim, rnk). Queries broadcast."""
    cand = vectors.crossJoin(F.broadcast(queries))
    sim = (
        F.expr(_dot_expr(vec_col, qvec_col))
        / (F.expr(_norm_expr(vec_col)) * F.expr(_norm_expr(qvec_col)))
    )
    cand = cand.withColumn("sim", sim)
    if exclude_self:
        cand = cand.filter(F.col(id_col) != F.col(qid_col))
    w = Window.partitionBy(qid_col).orderBy(F.col("sim").desc(), F.col(id_col).asc())
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(qid_col, id_col, "sim", "rnk")
    )


def sign_planes(dim: int, n_planes: int, table: int) -> np.ndarray:
    """Deterministic ±1 hyperplanes from a stateless hash (sign random
    projections, Achlioptas 2003): component (t, j, d) is +1 iff bit 0 of
    splitmix64(t*2^20 + j*2^10 + d) is set. Stateless => rebuildable on any
    executor / any engine (the DuckDB oracle regenerates the identical
    planes in SQL) without shipping plane matrices."""
    from .dedup import splitmix64_np

    seeds = (
        np.uint64(table) * np.uint64(1 << 20)
        + np.arange(n_planes, dtype=np.uint64)[:, None] * np.uint64(1 << 10)
        + np.arange(dim, dtype=np.uint64)[None, :]
    )
    bits = splitmix64_np(seeds.ravel()) & np.uint64(1)
    return (2.0 * bits.reshape(n_planes, dim).astype(np.float64)) - 1.0


def hyperplane_bucket_udf(dim: int, n_planes: int = 12, table: int = 0):
    planes = sign_planes(dim, n_planes, table)

    @F.pandas_udf(T.LongType())
    def bucket(vecs: pd.Series) -> pd.Series:
        m = np.array(vecs.tolist(), dtype=np.float64)
        signs = (m @ planes.T) > 0
        weights = (1 << np.arange(n_planes)).astype(np.int64)
        return pd.Series((signs @ weights).astype(np.int64))

    return bucket


def multi_table_bucket_udf(dim: int, n_planes: int, n_tables: int):
    """ALL tables' buckets in ONE Arrow pass: vec -> array<long> of length
    n_tables (bucket per table). One Python stage + a native posexplode
    replaces n_tables separate UDF evaluations of the same vectors — at
    100 TB that is one scan of the embedding column instead of n_tables."""
    all_planes = [sign_planes(dim, n_planes, t) for t in range(n_tables)]
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def buckets(vecs: pd.Series) -> pd.Series:
        m = np.array(vecs.tolist(), dtype=np.float64)
        cols = [((m @ p.T) > 0) @ weights for p in all_planes]
        b = np.stack(cols, axis=1).astype(np.int64)
        return pd.Series(list(b))

    return buckets


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    n_planes: int = 10,
    n_tables: int = 4,
) -> DataFrame:
    """LSH-bucketed approximate cosine top-k: -> (qid, vec_id, sim, rnk).

    Each of ``n_tables`` hash tables buckets both sides; candidates = union of
    same-bucket pairs; exact cosine re-rank on candidates only. At 10^12 rows
    the bucket join replaces the Q x N cross product with Q x (N / 2^planes)
    per table. All tables' buckets come from ONE Arrow pass + posexplode
    (multi_table_bucket_udf), one (table, bucket) equi-join — not a union of
    per-table plans."""
    bs = multi_table_bucket_udf(dim, n_planes, n_tables)
    v = vectors.select(
        id_col, vec_col, F.posexplode(bs(F.col(vec_col))).alias("__t", "__b")
    )
    q = queries.select(
        qid_col, qvec_col, F.posexplode(bs(F.col(qvec_col))).alias("__t", "__b")
    )
    cands = v.join(F.broadcast(q), ["__t", "__b"]).drop("__t", "__b")
    cands = cands.dropDuplicates([qid_col, id_col])
    sim = (
        F.expr(_dot_expr(vec_col, qvec_col))
        / (F.expr(_norm_expr(vec_col)) * F.expr(_norm_expr(qvec_col)))
    )
    cands = cands.withColumn("sim", sim).filter(F.col(id_col) != F.col(qid_col))
    w = Window.partitionBy(qid_col).orderBy(F.col("sim").desc(), F.col(id_col).asc())
    return (
        cands.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(qid_col, id_col, "sim", "rnk")
    )


def embedding_neardup_pairs(
    vectors: DataFrame,
    threshold: float,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 6,
    exact: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: -> (id_a, id_b, sim) with
    id_a < id_b and cosine(sim) >= threshold.

    Scale path (default): multi-table hyperplane-LSH bucket join — candidate
    pairs share a bucket in >= 1 of ``n_tables`` tables, exact cosine refine
    on candidates only. ``exact=True`` is the O(N^2) broadcast cross join for
    small sides / oracle parity.
    """
    a = vectors.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va")
    )
    b = vectors.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb")
    )
    if exact:
        cands = a.crossJoin(F.broadcast(b)).filter(F.col("id_a") < F.col("id_b"))
    else:
        bs = multi_table_bucket_udf(dim, n_planes, n_tables)
        av = a.select(
            "id_a", "__va", F.posexplode(bs(F.col("__va"))).alias("__t", "__b")
        )
        bv = b.select(
            "id_b", "__vb", F.posexplode(bs(F.col("__vb"))).alias("__t", "__b")
        )
        cands = (
            av.join(bv, ["__t", "__b"])
            .filter(F.col("id_a") < F.col("id_b"))
            .drop("__t", "__b")
            .dropDuplicates(["id_a", "id_b"])
        )
    sim = (
        F.expr(_dot_expr("__va", "__vb"))
        / (F.expr(_norm_expr("__va")) * F.expr(_norm_expr("__vb")))
    )
    return (
        cands.withColumn("sim", F.round(sim, 6))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def train_ivf_centroids(
    vectors: DataFrame,
    dim: int,
    n_centroids: int = 64,
    vec_col: str = "embedding",
    sample_rows: int = 10_000,
    iters: int = 8,
    seed: int = 42,
) -> np.ndarray:
    """Coarse quantizer for IVF: k-means (Lloyd) on a driver-side sample.

    The sample is tiny relative to the table (the 10^12-row path trains on
    sample_rows no matter the input size); assignment happens distributed.
    Deterministic: fixed seed, fixed iteration count.
    """
    pdf = vectors.select(vec_col).limit(sample_rows).toPandas()
    if len(pdf) == 0:
        raise ValueError(
            "train_ivf_centroids: vectors table is empty — nothing to sample"
        )
    X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    cent = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)]
    for _ in range(iters):
        sims = X @ cent.T
        assign = np.argmax(sims, axis=1)
        # vectorized Lloyd update (same form as train_pq_codebooks):
        # scatter-add + count division, empty clusters keep their centroid
        sums = np.zeros_like(cent)
        np.add.at(sums, assign, X)
        counts = np.bincount(assign, minlength=len(cent)).astype(np.float64)
        nz = counts > 0
        v = sums[nz] / counts[nz, None]
        cent[nz] = v / np.maximum(
            np.linalg.norm(v, axis=1, keepdims=True), 1e-12
        )
    return cent


def ivf_topk_native(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    n_centroids: int = 32,
    n_probe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
) -> DataFrame:
    """IVF cosine top-k with a FULLY NATIVE plan (zero Python): the coarse
    quantizer is the table's first ``n_centroids`` vectors (deterministic
    sampling init — the standard k-means seeding step without the Lloyd
    iterations, so an ANSI-SQL oracle can reproduce the whole pipeline).

    Plan: assignment = broadcast cross join against the centroid table +
    ``min_by`` argmax aggregate (N x C JVM-side dot products — the canonical
    IVF assign cost — but the N x C candidate set NEVER shuffles: min_by has
    a partial-aggregate form, so each map task collapses its rows to one per
    vector id before the exchange; only N (id, vec, list) rows cross the
    wire, vs the round-2 row_number window that shuffled and sorted all
    N x C rows with full embedding payloads); probing = per-query window over
    the tiny Q x C set; rerank = exact cosine over probed lists only.
    -> (qid, vec_id, sim, rnk). Use :func:`ivf_topk` for the trained k-means
    quantizer.
    """
    cent = F.broadcast(
        vectors.orderBy(F.col(id_col).asc()).limit(n_centroids).select(
            F.col(id_col).alias("__cid"), F.col(vec_col).alias("__cvec")
        )
    )
    csim = (
        F.expr(_dot_expr(vec_col, "__cvec"))
        / (F.expr(_norm_expr(vec_col)) * F.expr(_norm_expr("__cvec")))
    )
    # argmax by (sim DESC, cid ASC) == min_by over (-sim, cid) — identical
    # tie-breaking to the SQL oracle's row_number ordering. NaN guard: a
    # zero-norm vector yields NaN cosine; pin it to -2 (below any real
    # cosine) so degenerate centroids are never selected — NaN ordering
    # would otherwise differ between min_by and the window formulation.
    csim = F.nanvl(csim, F.lit(-2.0))
    assign = (
        vectors.crossJoin(cent)
        .withColumn("__csim", csim)
        .groupBy(id_col)
        .agg(
            F.min_by(
                F.col("__cid"),
                F.struct((-F.col("__csim")).alias("ns"), F.col("__cid").alias("c")),
            ).alias("__list"),
            F.any_value(F.col(vec_col)).alias(vec_col),
        )
        .select(id_col, vec_col, "__list")
    )
    qsim = (
        F.expr(_dot_expr(qvec_col, "__cvec"))
        / (F.expr(_norm_expr(qvec_col)) * F.expr(_norm_expr("__cvec")))
    )
    wq = Window.partitionBy(qid_col).orderBy(F.col("__qsim").desc(), F.col("__cid").asc())
    probes = (
        queries.crossJoin(cent)
        .withColumn("__qsim", qsim)
        .withColumn("__r", F.row_number().over(wq))
        .filter(F.col("__r") <= n_probe)
        .select(qid_col, qvec_col, F.col("__cid").alias("__probe"))
    )
    cands = assign.join(
        F.broadcast(probes), assign["__list"] == probes["__probe"]
    ).drop("__list", "__probe")
    sim = (
        F.expr(_dot_expr(vec_col, qvec_col))
        / (F.expr(_norm_expr(vec_col)) * F.expr(_norm_expr(qvec_col)))
    )
    cands = cands.withColumn("sim", sim).filter(F.col(id_col) != F.col(qid_col))
    w = Window.partitionBy(qid_col).orderBy(F.col("sim").desc(), F.col(id_col).asc())
    return (
        cands.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(qid_col, id_col, "sim", "rnk")
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    n_centroids: int = 64,
    n_probe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate cosine top-k: -> (qid, vec_id, sim, rnk).

    Inverted-file search: every vector is assigned to its nearest coarse
    centroid (one vectorized pandas UDF, no shuffle of the vector side beyond
    the bucket join); each query probes its ``n_probe`` nearest lists and
    exact-reranks only those candidates. The scale path when LSH's random
    buckets waste probes: lists follow the data distribution.
    """
    cent = centroids if centroids is not None else train_ivf_centroids(
        vectors, dim, n_centroids, vec_col
    )

    @F.pandas_udf("int")
    def assign_udf(vs: pd.Series) -> pd.Series:
        X = np.array(vs.tolist(), dtype=np.float64)
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(X @ cent.T, axis=1).astype(np.int32))

    @F.pandas_udf("array<int>")
    def probe_udf(vs: pd.Series) -> pd.Series:
        X = np.array(vs.tolist(), dtype=np.float64)
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        # stable sort: ties rank by list index ascending, matching the
        # SQL oracle's (sim DESC, cid ASC) ordering deterministically
        order = np.argsort(-(X @ cent.T), axis=1, kind="stable")[:, :n_probe].astype(np.int32)
        return pd.Series(list(order))

    v = vectors.withColumn("__list", assign_udf(F.col(vec_col)))
    q = queries.withColumn("__probe", F.explode(probe_udf(F.col(qvec_col))))
    cands = v.join(
        F.broadcast(q), v["__list"] == q["__probe"]
    ).drop("__list", "__probe")
    sim = (
        F.expr(_dot_expr(vec_col, qvec_col))
        / (F.expr(_norm_expr(vec_col)) * F.expr(_norm_expr(qvec_col)))
    )
    cands = cands.withColumn("sim", sim).filter(F.col(id_col) != F.col(qid_col))
    w = Window.partitionBy(qid_col).orderBy(F.col("sim").desc(), F.col(id_col).asc())
    return (
        cands.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(qid_col, id_col, "sim", "rnk")
    )


# beyond this many queries, pq_topk's per-query ADC lookup tables would
# exceed ~32 MB of broadcast (1024 x m=16 x ksub=256 x 8 B) — degrade to
# carrying the query vector per candidate row instead
MAX_ADC_LUT_QUERIES = 1024


def _query_luts(qrows, books: np.ndarray):
    """Shared ADC-LUT builder for the two LUT-scoring paths
    (:func:`pq_topk` / :func:`pq_topk_indexed`): from collected
    (qid, qvec) rows -> (qid_to_idx, qn, luts) where ``qn`` is the
    L2-normalized query matrix and ``LUT[q, j, c]`` = codebook[j, c] .
    qn[q]'s j-th subvector. One einsum, computed driver-side once per
    call; the caller broadcasts (qid_to_idx, luts)."""
    m_, _, dsub = books.shape
    qn = np.array([r[1] for r in qrows], dtype=np.float64)
    qn /= np.maximum(np.linalg.norm(qn, axis=1, keepdims=True), 1e-12)
    luts = np.einsum("jcd,qjd->qjc", books, qn.reshape(len(qn), m_, dsub))
    return {r[0]: i for i, r in enumerate(qrows)}, qn, luts


def _adc_lut_udf(lut_bc, m_: int):
    """Shared vectorized ADC scorer over broadcast LUTs: rows are
    (qid, m-byte code) — the gather L[q, j, code[j]].sum(j) is the whole
    score; no vectors cross the exchange."""

    @F.pandas_udf("double")
    def adc_lut(qids: pd.Series, codes: pd.Series) -> pd.Series:
        qmap, L = lut_bc.value
        qi = qids.map(qmap).to_numpy(dtype=np.int64)
        C = np.frombuffer(b"".join(codes.tolist()), dtype=np.uint8).reshape(
            len(codes), m_
        )
        return pd.Series(L[qi[:, None], np.arange(m_)[None, :], C].sum(axis=1))

    return adc_lut


def train_pq_codebooks(
    vectors: DataFrame,
    dim: int,
    m: int = 8,
    ksub: int = 256,
    vec_col: str = "embedding",
    sample_rows: int = 10_000,
    iters: int = 8,
    seed: int = 42,
) -> np.ndarray:
    """Product-quantization codebooks: -> (m, ksub, dim // m) float64.

    Jegou/Douze/Schmid, "Product Quantization for Nearest Neighbor
    Search" (TPAMI 2011): split every L2-normalized vector into ``m``
    contiguous subvectors and run an independent k-means (Lloyd, fixed
    seed + iteration count — deterministic) in each subspace on a
    driver-side sample. Like :func:`train_ivf_centroids`, the sample is
    bounded at ``sample_rows`` regardless of table size: training cost
    is O(sample x ksub x dim) on the driver, never a cluster job.
    """
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    if not 1 <= ksub <= 256:
        raise ValueError(f"ksub={ksub} must fit a uint8 code (1..256)")
    dsub = dim // m
    pdf = vectors.select(vec_col).limit(sample_rows).toPandas()
    if len(pdf) == 0:
        raise ValueError(
            "train_pq_codebooks: vectors table is empty — nothing to sample"
        )
    X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    k_eff = min(ksub, len(X))
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        cent = S[rng.choice(len(S), size=k_eff, replace=False)].copy()
        for _ in range(iters):
            # argmin ||s - c||^2 == argmax (s.c - ||c||^2 / 2)
            score = S @ cent.T - 0.5 * (cent * cent).sum(axis=1)
            assign = np.argmax(score, axis=1)
            # vectorized update: a per-cluster masked-mean loop costs
            # m * iters * ksub python iterations (32k at m=16) and
            # dominated the whole pq_topk call (~3.9 s of a ~7.5 s arm)
            sums = np.zeros((k_eff, dsub))
            np.add.at(sums, assign, S)
            counts = np.bincount(assign, minlength=k_eff).astype(np.float64)
            nz = counts > 0
            cent[nz] = sums[nz] / counts[nz, None]
        books[j, :k_eff] = cent
        if k_eff < ksub:  # degenerate tiny sample: pad with repeats
            books[j, k_eff:] = cent[0]
    return books


def pq_encode(
    vectors: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Attach the ``m``-byte PQ code (binary) for each vector; drops the
    raw vector column from the output — the code frame IS the index.

    One Arrow-batched pass; per batch the assignment is a dense
    (batch x ksub) matrix product per subspace. A 768-dim float32
    embedding (3072 B) compresses to m=8..96 bytes: at 100 TB of raw
    embeddings the code frame is a ~0.3 TB table that fits cluster RAM,
    and — the part that matters for the candidate join in
    :func:`pq_topk` — only these bytes ever cross the shuffle.
    """
    m, ksub, dsub = codebooks.shape
    books = codebooks  # closure capture; broadcast with the task binary
    half_sq = 0.5 * (books * books).sum(axis=2)  # (m, ksub)

    @F.pandas_udf("binary")
    def encode(vs: pd.Series) -> pd.Series:
        X = np.array(vs.tolist(), dtype=np.float64)
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        codes = np.empty((len(X), m), dtype=np.uint8)
        for j in range(m):
            S = X[:, j * dsub : (j + 1) * dsub]
            codes[:, j] = np.argmax(S @ books[j].T - half_sq[j], axis=1)
        return pd.Series([c.tobytes() for c in codes])

    return vectors.withColumn(code_col, encode(F.col(vec_col))).drop(vec_col)


def pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    m: int = 8,
    ksub: int = 256,
    n_centroids: int = 64,
    n_probe: int = 8,
    rerank: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    codebooks: np.ndarray | None = None,
    centroids: np.ndarray | None = None,
    adc_by_lut: bool = True,
) -> DataFrame:
    """IVF-PQ approximate cosine top-k: -> (qid, vec_id, sim, rnk).

    The canonical web-scale ANN layout (Jegou et al. 2011; the design
    FAISS/ScaNN productionize): a coarse IVF quantizer routes, PQ codes
    score. Contrast with :func:`ivf_topk`, whose candidate join ships
    full ``dim x 4``-byte vectors to the rerank — here the scored
    candidate rows carry ``m`` BYTES each, so the bucket-join shuffle
    shrinks by ~dim*4/m (384x for dim=768, m=8) and the whole scoring
    stage stays memory-resident at 10^11 rows.

    Plan:
      1. train codebooks + coarse centroids on bounded driver samples
         (deterministic; pass precomputed arrays to skip);
      2. ONE Arrow pass over the table emits (id, list, m-byte code) —
         raw vectors are never touched again until rerank;
      3. queries probe their ``n_probe`` nearest lists (broadcast side);
      4. ADC (asymmetric distance computation): a vectorized UDF gathers
         each candidate's per-subspace codebook entries and dots them
         against the query subvectors — score ~= cosine(q, x);
      5. ``rerank > 0``: the ADC top-``rerank`` ids per query join back
         to the vector table (semi-join of survivors only — at most
         Q x rerank rows broadcast) for exact cosine, then top-k. With
         ``rerank=0`` the ADC estimate itself ranks (sim is then the
         PQ approximation, monotone in reconstruction quality).

    ``adc_by_lut`` (default): the per-query (m x ksub) dot-product
    lookup tables are precomputed driver-side (queries are already
    required to be broadcast-small) and shipped ONCE per executor as a
    Spark broadcast, so the ADC stage's Arrow transfer is (qid, m-byte
    code) per candidate — ~24 B/row instead of carrying the dim x 4-byte
    query vector alongside every candidate (~280 B/row at dim=64). The
    two formulations compute the identical score (parity-tested); the
    LUT path silently degrades to the vector-carrying path beyond
    ``MAX_ADC_LUT_QUERIES`` (LUT broadcast would exceed ~32 MB).
    """
    books = (
        codebooks
        if codebooks is not None
        else train_pq_codebooks(vectors, dim, m=m, ksub=ksub, vec_col=vec_col)
    )
    m_, _, dsub = books.shape
    cent = (
        centroids
        if centroids is not None
        else train_ivf_centroids(vectors, dim, n_centroids, vec_col)
    )

    @F.pandas_udf("int")
    def assign_udf(vs: pd.Series) -> pd.Series:
        X = np.array(vs.tolist(), dtype=np.float64)
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(X @ cent.T, axis=1).astype(np.int32))

    @F.pandas_udf("array<int>")
    def probe_udf(vs: pd.Series) -> pd.Series:
        X = np.array(vs.tolist(), dtype=np.float64)
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        order = np.argsort(-(X @ cent.T), axis=1, kind="stable")[:, :n_probe]
        return pd.Series(list(order.astype(np.int32)))

    index = pq_encode(
        vectors.withColumn("__list", assign_udf(F.col(vec_col))),
        books,
        vec_col=vec_col,
    )
    probes = queries.withColumn("__probe", F.explode(probe_udf(F.col(qvec_col))))

    use_lut = adc_by_lut
    if use_lut:
        qrows = (
            queries.select(qid_col, qvec_col)
            .limit(MAX_ADC_LUT_QUERIES + 1)
            .collect()
        )
        if len(qrows) > MAX_ADC_LUT_QUERIES or len(qrows) == 0:
            # degrade: carry qvec per candidate instead (too many queries
            # for the LUT broadcast; or zero queries — the vector path
            # returns the correct empty frame without special-casing)
            use_lut = False
        else:
            qid_to_idx, _, luts = _query_luts(qrows, books)
            lut_bc = vectors.sparkSession.sparkContext.broadcast(
                (qid_to_idx, luts)
            )

    if use_lut:
        adc_lut = _adc_lut_udf(lut_bc, m_)
        ps = probes.select(qid_col, "__probe")
        cands = (
            index.join(F.broadcast(ps), index["__list"] == ps["__probe"])
            .drop("__list", "__probe")
            .filter(F.col(id_col) != F.col(qid_col))
            .withColumn("__adc", adc_lut(F.col(qid_col), F.col("pq_code")))
        )
    else:

        @F.pandas_udf("double")
        def adc(qvs: pd.Series, codes: pd.Series) -> pd.Series:
            Q = np.array(qvs.tolist(), dtype=np.float64)
            Q /= np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
            C = np.frombuffer(b"".join(codes.tolist()), dtype=np.uint8).reshape(
                len(codes), m_
            )
            # gather each row's m codebook entries -> (B, m, dsub), dot
            # against the matching query subvectors in one einsum
            rec = books[np.arange(m_)[None, :], C]  # (B, m, dsub)
            return pd.Series(
                np.einsum("bmd,bmd->b", rec, Q.reshape(len(Q), m_, dsub))
            )

        cands = (
            index.join(F.broadcast(probes), index["__list"] == probes["__probe"])
            .drop("__list", "__probe")
            .filter(F.col(id_col) != F.col(qid_col))
            .withColumn("__adc", adc(F.col(qvec_col), F.col("pq_code")))
        )
    w_adc = Window.partitionBy(qid_col).orderBy(
        F.col("__adc").desc(), F.col(id_col).asc()
    )
    if rerank <= 0:
        return (
            cands.withColumn("rnk", F.row_number().over(w_adc))
            .filter(F.col("rnk") <= k)
            .select(qid_col, id_col, F.col("__adc").alias("sim"), "rnk")
        )
    survivors = (
        cands.withColumn("__r", F.row_number().over(w_adc))
        .filter(F.col("__r") <= rerank)
        .select(
            *([qid_col, id_col] if use_lut else [qid_col, qvec_col, id_col])
        )
    )
    if use_lut:  # reattach qvec to the tiny survivor frame for exact rerank
        survivors = survivors.join(
            F.broadcast(queries.select(qid_col, qvec_col)), qid_col
        )
    exact = vectors.join(
        F.broadcast(survivors), id_col
    )  # survivors <= Q x rerank rows: always the broadcast side
    sim = (
        F.expr(_dot_expr(vec_col, qvec_col))
        / (F.expr(_norm_expr(vec_col)) * F.expr(_norm_expr(qvec_col)))
    )
    w = Window.partitionBy(qid_col).orderBy(F.col("sim").desc(), F.col(id_col).asc())
    return (
        exact.withColumn("sim", sim)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(qid_col, id_col, "sim", "rnk")
    )


def build_pq_index(
    vectors: DataFrame,
    path: str,
    dim: int,
    m: int = 8,
    ksub: int = 256,
    n_centroids: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: np.ndarray | None = None,
    centroids: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Build and PERSIST the IVF-PQ index: one training pass (bounded
    driver samples) + one encode pass over the table, written as parquet
    PARTITIONED BY the coarse list id, with the trained model (codebooks +
    centroids) in an ``_pq_model.npz`` sidecar next to the data.

    This is the build-once/search-many layout (the reference persists its
    indexes the same way — storage IS the index, geomesa-fs
    CompositeScheme analog: sources/storage.py): each IVF list is a
    directory, so a query probing ``n_probe`` lists reads exactly those
    directories — partition pruning at file-listing time, before any IO.
    The index rows are (id, m-byte code): ~dim*4/m smaller than the
    vectors, re-encoded only when the model retrains, never per query.

    Returns (codebooks, centroids) — also what the sidecar stores.
    """
    books = (
        codebooks
        if codebooks is not None
        else train_pq_codebooks(vectors, dim, m=m, ksub=ksub, vec_col=vec_col)
    )
    cent = (
        centroids
        if centroids is not None
        else train_ivf_centroids(vectors, dim, n_centroids, vec_col)
    )

    @F.pandas_udf("int")
    def assign_udf(vs: pd.Series) -> pd.Series:
        X = np.array(vs.tolist(), dtype=np.float64)
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(X @ cent.T, axis=1).astype(np.int32))

    index = pq_encode(
        vectors.select(id_col, vec_col).withColumn(
            "__list", assign_udf(F.col(vec_col))
        ),
        books,
        vec_col=vec_col,
    )
    index.write.mode("overwrite").partitionBy("__list").parquet(path)
    import io as _io
    import os as _os

    buf = _io.BytesIO()
    np.savez(buf, codebooks=books, centroids=cent)
    with open(_os.path.join(path, "_pq_model.npz"), "wb") as fh:
        fh.write(buf.getvalue())
    return books, cent


def pq_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int,
    n_probe: int = 8,
    rerank: int = 0,
    vectors: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
) -> DataFrame:
    """Search a :func:`build_pq_index` index: -> (qid, vec_id, sim, rnk).

    The probed list ids are known driver-side (Q x n_probe ints from the
    sidecar centroids — no cluster job), so the scan gets a STATIC
    ``__list IN (...)`` filter: partition pruning is guaranteed at
    file-listing time (assertable as PartitionFilters in the plan), not
    left to runtime DPP. Scoring is the same broadcast-LUT ADC as
    :func:`pq_topk`; ``rerank > 0`` requires the original ``vectors``
    table (the index deliberately does not store vectors).
    """
    import os as _os

    with open(_os.path.join(path, "_pq_model.npz"), "rb") as fh:
        model = np.load(fh)
        books = model["codebooks"]
        cent = model["centroids"]
    m_, ksub_, dsub = books.shape
    if rerank > 0 and vectors is None:
        raise ValueError("rerank > 0 needs the original vectors table")

    qrows = queries.select(qid_col, qvec_col).limit(
        MAX_ADC_LUT_QUERIES + 1
    ).collect()
    if len(qrows) > MAX_ADC_LUT_QUERIES:
        raise ValueError(
            f"pq_topk_indexed supports <= {MAX_ADC_LUT_QUERIES} queries "
            "per call (driver-side probe + LUT); batch larger query sets"
        )
    index = spark.read.parquet(path)
    if not qrows:
        return (
            index.limit(0)
            .select(
                F.lit(None).cast("long").alias(qid_col),
                F.col(id_col),
                F.lit(0.0).alias("sim"),
                F.lit(0).alias("rnk"),
            )
            .limit(0)
        )
    qid_to_idx, qn, luts = _query_luts(qrows, books)
    order = np.argsort(-(qn @ cent.T), axis=1, kind="stable")[:, :n_probe]
    lut_bc = spark.sparkContext.broadcast((qid_to_idx, luts))

    # from pandas, not a list of tuples: the Arrow path starts no Python
    # worker (a list runs a PythonRDD job and a second daemon; see
    # geomesa_spark/worker_daemon.py)
    probes = spark.createDataFrame(
        pd.DataFrame({
            qid_col: np.repeat([r[0] for r in qrows], order.shape[1]),
            "__probe": order.ravel().astype(np.int32),
        }),
        schema=T.StructType([
            T.StructField(qid_col, queries.schema[qid_col].dataType),
            T.StructField("__probe", T.IntegerType()),
        ]),
    )
    all_lists = np.unique(order).tolist()
    adc_lut = _adc_lut_udf(lut_bc, m_)

    cands = (
        index.filter(F.col("__list").isin(all_lists))  # static partition prune
        .join(F.broadcast(probes), index["__list"] == probes["__probe"])
        .drop("__list", "__probe")
        .filter(F.col(id_col) != F.col(qid_col))
        .withColumn("__adc", adc_lut(F.col(qid_col), F.col("pq_code")))
    )
    w_adc = Window.partitionBy(qid_col).orderBy(
        F.col("__adc").desc(), F.col(id_col).asc()
    )
    if rerank <= 0:
        return (
            cands.withColumn("rnk", F.row_number().over(w_adc))
            .filter(F.col("rnk") <= k)
            .select(qid_col, id_col, F.col("__adc").alias("sim"), "rnk")
        )
    survivors = (
        cands.withColumn("__r", F.row_number().over(w_adc))
        .filter(F.col("__r") <= rerank)
        .select(qid_col, id_col)
        .join(F.broadcast(queries.select(qid_col, qvec_col)), qid_col)
    )
    exact = vectors.join(F.broadcast(survivors), id_col)
    sim = (
        F.expr(_dot_expr(vec_col, qvec_col))
        / (F.expr(_norm_expr(vec_col)) * F.expr(_norm_expr(qvec_col)))
    )
    w = Window.partitionBy(qid_col).orderBy(F.col("sim").desc(), F.col(id_col).asc())
    return (
        exact.withColumn("sim", sim)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(qid_col, id_col, "sim", "rnk")
    )


def pq_topk_native(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    m: int = 8,
    ksub: int = 32,
    n_centroids: int = 32,
    n_probe: int = 8,
    rerank: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
) -> DataFrame:
    """IVF-PQ top-k with a FULLY NATIVE plan (zero Python), the
    :func:`ivf_topk_native` analog for the PQ family: the coarse quantizer
    is the table's first ``n_centroids`` vectors and the per-subspace
    codebook is the matching slice of the table's first ``ksub`` vectors
    (deterministic sampling init without the Lloyd iterations), so an
    ANSI-SQL oracle can replay the ENTIRE pipeline — encode, ADC, rerank —
    and the driver hash verifies the approximate operator itself.

    Scale shape (same arguments as the trained path):
      - encode: the N x m x ksub assignment candidate set collapses through
        a map-side-combinable ``min_by`` per (vector, subspace) — it never
        shuffles; only N x m (id, j, code) rows exist after the aggregate.
      - the vector's PQ reconstruction is materialized ONCE as an
        array<double> column via array_sort(collect_list(struct(j, sub)))
        + flatten — deterministic order by subspace index, so the ADC dot
        is a single row-wise sequential fold (bit-stable across engines;
        a float groupBy-sum over the m parts would accumulate in partition
        order and flip near-ties between engines).
      - ADC ranking is per-query-scale-invariant, so the raw query vector
        dots against the reconstruction (no query normalization step to
        disagree about).
      - ``rerank``: exact cosine over the ADC top-``rerank`` survivors
        only, the standard two-stage ranking.

    -> (qid, vec_id, sim_adc or sim, rnk). Use :func:`pq_topk` for trained
    codebooks + broadcast-LUT ADC at production scale.
    """
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    dsub = dim // m
    # norm hoisted to its own projection: embedding _norm_expr (an O(dim)
    # aggregate) INSIDE the transform lambda would re-evaluate it per
    # ELEMENT — O(dim^2) per row; lambda bodies block Catalyst's common
    # subexpression elimination. Same arithmetic, computed once.
    base = vectors.select(
        F.col(id_col),
        F.col(vec_col),
        F.expr(_norm_expr(vec_col)).alias("__nrm"),
    ).select(
        F.col(id_col),
        F.col(vec_col),
        F.expr(
            f"transform({vec_col}, x -> cast(x as double) / __nrm)"
        ).alias("__nv"),
    )
    # codebook: subspace j of the first ksub normalized vectors (broadcast)
    cb = F.broadcast(
        base.orderBy(F.col(id_col).asc())
        .limit(ksub)
        .select(
            F.col(id_col).alias("__c"),
            F.explode(F.expr(f"sequence(0, {m - 1})")).alias("__j"),
            F.col("__nv"),
        )
        .select(
            "__c",
            "__j",
            F.expr(f"slice(__nv, __j * {dsub} + 1, {dsub})").alias("__cb"),
        )
    )
    # encode: argmin ||v_sub - cb||^2 == argmax (dot - ||cb||^2/2) via
    # min_by over (-score, code id) — identical tie-breaking to the SQL
    # oracle's row_number (score DESC, c ASC)
    vsub = base.select(
        F.col(id_col),
        F.explode(F.expr(f"sequence(0, {m - 1})")).alias("__j"),
        F.col("__nv"),
    ).select(
        id_col, "__j",
        F.expr(f"slice(__nv, __j * {dsub} + 1, {dsub})").alias("__vs"),
    )
    score = F.expr(_dot_expr("__vs", "__cb")) - 0.5 * F.expr(
        _dot_expr("__cb", "__cb")
    )
    codes = (
        vsub.join(cb, "__j")
        .withColumn("__s", F.nanvl(score, F.lit(float("-inf"))))
        .groupBy(id_col, "__j")
        .agg(
            F.min_by(
                F.struct(F.col("__c"), F.col("__cb")),
                F.struct((-F.col("__s")).alias("ns"), F.col("__c").alias("c")),
            ).alias("__e")
        )
    )
    # reconstruction: subspace entries flattened in j order (deterministic)
    rec = codes.groupBy(id_col).agg(
        F.flatten(
            F.expr(
                "transform(array_sort(collect_list(struct(__j, __e.__cb as cb))),"
                " p -> p.cb)"
            )
        ).alias("__rec")
    )
    # coarse assignment (ivf_topk_native pattern)
    cent = F.broadcast(
        base.orderBy(F.col(id_col).asc())
        .limit(n_centroids)
        .select(F.col(id_col).alias("__cid"), F.col("__nv").alias("__cv"))
    )
    csim = F.nanvl(
        F.expr(_dot_expr("__nv", "__cv")), F.lit(float("-inf"))
    )
    assign = (
        base.crossJoin(cent)
        .withColumn("__cs", csim)
        .groupBy(id_col)
        .agg(
            F.min_by(
                F.col("__cid"),
                F.struct((-F.col("__cs")).alias("ns"), F.col("__cid").alias("c")),
            ).alias("__list")
        )
    )
    qsim = F.nanvl(F.expr(_dot_expr("__qn", "__cv")), F.lit(float("-inf")))
    wq = Window.partitionBy(qid_col).orderBy(F.col("__qs").desc(), F.col("__cid").asc())
    probes = (
        queries.select(
            qid_col,
            qvec_col,
            F.expr(_norm_expr(qvec_col)).alias("__qnrm"),
        )
        .select(
            qid_col,
            qvec_col,
            F.expr(
                f"transform({qvec_col}, x -> cast(x as double) / __qnrm)"
            ).alias("__qn"),
        )
        .crossJoin(cent)
        .withColumn("__qs", qsim)
        .withColumn("__r", F.row_number().over(wq))
        .filter(F.col("__r") <= n_probe)
        .select(qid_col, qvec_col, F.col("__cid").alias("__p"))
    )
    cands = (
        assign.join(F.broadcast(probes), assign["__list"] == probes["__p"])
        .drop("__list", "__p")
        .filter(F.col(id_col) != F.col(qid_col))
        .join(rec, id_col)
        .withColumn("__adc", F.expr(_dot_expr("__rec", qvec_col)))
    )
    w_adc = Window.partitionBy(qid_col).orderBy(
        F.col("__adc").desc(), F.col(id_col).asc()
    )
    if rerank <= 0:
        return (
            cands.withColumn("rnk", F.row_number().over(w_adc))
            .filter(F.col("rnk") <= k)
            .select(qid_col, id_col, F.col("__adc").alias("sim"), "rnk")
        )
    survivors = (
        cands.withColumn("__r", F.row_number().over(w_adc))
        .filter(F.col("__r") <= rerank)
        .select(qid_col, qvec_col, id_col)
    )
    exact = vectors.join(F.broadcast(survivors), id_col)
    sim = (
        F.expr(_dot_expr(vec_col, qvec_col))
        / (F.expr(_norm_expr(vec_col)) * F.expr(_norm_expr(qvec_col)))
    )
    w = Window.partitionBy(qid_col).orderBy(F.col("sim").desc(), F.col(id_col).asc())
    return (
        exact.withColumn("sim", sim)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(qid_col, id_col, "sim", "rnk")
    )
