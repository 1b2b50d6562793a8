"""Approximate-nearest-neighbor search over embedding columns.

Training-data-pipeline operator (no GeoMesa analog; the kNN ring-expansion
pattern of knn.py is its spatial cousin). One implementation per algorithm,
in increasing scale:

- brute_force_topk: exact cosine top-k. The dot products run JVM-side via
  zip_with/aggregate on the embedding arrays — no Python — so the only cost
  is the Q x N candidate expansion (Q broadcast), then a window top-k.
- lsh_topk: random-hyperplane LSH (Charikar 2002) bucketing via one
  Arrow-batched UDF; queries score only the vectors that share a bucket in
  some table. Recall is tunable by (n_planes, n_tables); exactness is NOT
  guaranteed — the bench compares it against brute force for recall.
- ivf_topk: data-adaptive routing — each vector joins its nearest
  coarse-centroid list; queries probe n_probe lists and exact-rerank only
  those candidates.
- pq_topk / build_pq_index + pq_topk_indexed: IVF-PQ (Jegou et al. 2011),
  the 100-TB layout. Candidates are scored from m-byte product-quantization
  codes against broadcast per-query lookup tables, so neither the candidate
  join nor the scoring stage touches a raw vector; exact cosine returns only
  for the Q x rerank survivors. pq_topk encodes in memory, pq_topk_indexed
  reads the persisted index; both search through one core (_pq_search).

Every exact re-rank ends in the same tail (_exact_topk): cosine over the
candidate pairs, a per-query row_number window, rnk <= k.
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


def _cosine(a: str, b: str):
    return F.expr(_dot_expr(a, b)) / (F.expr(_norm_expr(a)) * F.expr(_norm_expr(b)))


def _top_per_query(df: DataFrame, score: str, k: int, id_col: str, qid_col: str) -> DataFrame:
    """Rows ranked 1..k per query by (score DESC, id ASC), as column rnk."""
    w = Window.partitionBy(qid_col).orderBy(F.col(score).desc(), F.col(id_col).asc())
    return df.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def _exact_topk(
    cands: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    qid_col: str,
    qvec_col: str,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k over (qid, qvec, id, vec) candidate pairs:
    -> (qid, vec_id, sim, rnk)."""
    cands = cands.withColumn("sim", _cosine(vec_col, qvec_col))
    if exclude_self:
        cands = cands.filter(F.col(id_col) != F.col(qid_col))
    return _top_per_query(cands, "sim", k, id_col, qid_col).select(
        qid_col, id_col, "sim", "rnk"
    )


def _unit_rows(vs, dim: int = -1) -> np.ndarray:
    """Vectors as an L2-normalized float64 (n, dim) matrix."""
    X = np.array(list(vs), dtype=np.float64).reshape(len(vs), dim)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    return X


def _probe_lists(qn: np.ndarray, cent: np.ndarray, n_probe: int) -> np.ndarray:
    """Each unit query's n_probe nearest lists. The stable sort ranks ties
    by list index ascending, the SQL oracles' (sim DESC, cid ASC) order."""
    return np.argsort(-(qn @ cent.T), axis=1, kind="stable")[:, :n_probe]


def _list_assign_udf(cent: np.ndarray):
    """vec -> index of its nearest coarse centroid (cosine argmax)."""

    @F.pandas_udf("int")
    def assign(vs: pd.Series) -> pd.Series:
        return pd.Series(np.argmax(_unit_rows(vs) @ cent.T, axis=1).astype(np.int32))

    return assign


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
    return _exact_topk(
        vectors.crossJoin(F.broadcast(queries)),
        k, id_col, vec_col, qid_col, qvec_col, exclude_self,
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
    return _exact_topk(cands, k, id_col, vec_col, qid_col, qvec_col)


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
    return (
        cands.withColumn("sim", F.round(_cosine("__va", "__vb"), 6))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


# driver-side training of the IVF centroids and PQ codebooks: sample bound,
# Lloyd iterations and RNG seed (fixed, so an index build is deterministic)
_SAMPLE_ROWS = 10_000
_TRAIN_ITERS = 8
_TRAIN_SEED = 42


def train_ivf_centroids(
    vectors: DataFrame,
    dim: int,
    n_centroids: int = 64,
    vec_col: str = "embedding",
    sample_rows: int = _SAMPLE_ROWS,
    iters: int = _TRAIN_ITERS,
    seed: int = _TRAIN_SEED,
) -> np.ndarray:
    """Coarse quantizer for IVF: k-means (Lloyd) on a driver-side sample.

    The sample is tiny relative to the table (the 10^12-row path trains on
    sample_rows no matter the input size); assignment happens distributed.
    Deterministic: fixed seed, fixed iteration count.
    """
    X = _train_sample(vectors, vec_col, sample_rows, "train_ivf_centroids")
    return _ivf_centroids(X, n_centroids, iters, seed)


def _train_sample(vectors: DataFrame, vec_col: str, sample_rows: int, who: str) -> np.ndarray:
    """The first ``sample_rows`` vectors as unit rows: one job, one Arrow
    collect, shared by both trainers of an index build."""
    pdf = vectors.select(vec_col).limit(sample_rows).toPandas()
    if len(pdf) == 0:
        raise ValueError(f"{who}: vectors table is empty — nothing to sample")
    return _unit_rows(pdf[vec_col])


def _ivf_centroids(X: np.ndarray, n_centroids: int, iters: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    cent = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)]
    for _ in range(iters):
        sims = X @ cent.T
        assign = np.argmax(sims, axis=1)
        # vectorized Lloyd update (same form as _pq_codebooks):
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

    @F.pandas_udf("array<int>")
    def probe_udf(vs: pd.Series) -> pd.Series:
        order = _probe_lists(_unit_rows(vs), cent, n_probe)
        return pd.Series(list(order.astype(np.int32)))

    v = vectors.withColumn("__list", _list_assign_udf(cent)(F.col(vec_col)))
    q = queries.withColumn("__probe", F.explode(probe_udf(F.col(qvec_col))))
    cands = v.join(
        F.broadcast(q), v["__list"] == q["__probe"]
    ).drop("__list", "__probe")
    return _exact_topk(cands, k, id_col, vec_col, qid_col, qvec_col)


# the per-query ADC lookup tables are built driver-side and broadcast: past
# this many queries they would exceed ~32 MB (1024 x m=16 x ksub=256 x 8 B),
# so a search raises and asks the caller to batch
MAX_ADC_LUT_QUERIES = 1024


def _adc_lut_udf(lut_bc, m_: int):
    """Vectorized ADC scorer over broadcast LUTs: rows are (qid, m-byte
    code) — the gather L[q, j, code[j]].sum(j) is the whole score; no
    vectors cross the exchange."""

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
    sample_rows: int = _SAMPLE_ROWS,
    iters: int = _TRAIN_ITERS,
    seed: int = _TRAIN_SEED,
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
    _check_pq_shape(dim, m, ksub)
    X = _train_sample(vectors, vec_col, sample_rows, "train_pq_codebooks")
    return _pq_codebooks(X, dim, m, ksub, iters, seed)


def _check_pq_shape(dim: int, m: int, ksub: int) -> None:
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    if not 1 <= ksub <= 256:
        raise ValueError(f"ksub={ksub} must fit a uint8 code (1..256)")


def _pq_codebooks(X: np.ndarray, dim: int, m: int, ksub: int, iters: int, seed: int) -> np.ndarray:
    dsub = dim // m
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
        X = _unit_rows(vs)
        codes = np.empty((len(X), m), dtype=np.uint8)
        for j in range(m):
            S = X[:, j * dsub : (j + 1) * dsub]
            codes[:, j] = np.argmax(S @ books[j].T - half_sq[j], axis=1)
        return pd.Series([c.tobytes() for c in codes])

    return vectors.withColumn(code_col, encode(F.col(vec_col))).drop(vec_col)


def _pq_model(
    vectors: DataFrame,
    dim: int,
    m: int,
    ksub: int,
    n_centroids: int,
    vec_col: str,
    codebooks: np.ndarray | None,
    centroids: np.ndarray | None,
) -> tuple[np.ndarray, np.ndarray]:
    """(codebooks, centroids): the arrays given, else trained on one
    bounded driver sample."""
    if codebooks is None:
        _check_pq_shape(dim, m, ksub)
    if codebooks is None or centroids is None:
        X = _train_sample(vectors, vec_col, _SAMPLE_ROWS, "PQ index training")
        if codebooks is None:
            codebooks = _pq_codebooks(X, dim, m, ksub, _TRAIN_ITERS, _TRAIN_SEED)
        if centroids is None:
            centroids = _ivf_centroids(X, n_centroids, _TRAIN_ITERS, _TRAIN_SEED)
    return codebooks, centroids


def _pq_index(
    vectors: DataFrame,
    books: np.ndarray,
    cent: np.ndarray,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The IVF-PQ index frame: (id, __list, pq_code), one Arrow pass each
    for the list assignment and the encode."""
    return pq_encode(
        vectors.select(id_col, vec_col).withColumn(
            "__list", _list_assign_udf(cent)(F.col(vec_col))
        ),
        books,
        vec_col=vec_col,
    )


def _pq_search(
    index: DataFrame,
    queries: DataFrame,
    books: np.ndarray,
    cent: np.ndarray,
    k: int,
    n_probe: int,
    rerank: int,
    vectors: DataFrame | None,
    id_col: str,
    vec_col: str,
    qid_col: str,
    qvec_col: str,
) -> DataFrame:
    """The one IVF-PQ search over an (id, __list, pq_code) index frame.

    The queries are collected (at most MAX_ADC_LUT_QUERIES), so probing and
    the per-query lookup tables ``LUT[q, j, c]`` = codebook[j, c] . unit
    query q's j-th subvector are computed on the driver in numpy. The probed
    lists become a STATIC ``__list IN (...)`` filter — on a list-partitioned
    parquet index that prunes at file-listing time (PartitionFilters in the
    plan), not left to runtime DPP; on pq_topk's in-memory frame Catalyst
    pushes it below the encode, so only probed lists are encoded.

    ADC scores (qid, code) rows through :func:`_adc_lut_udf`; ``rerank > 0``
    re-scores the ADC top-``rerank`` ids per query with exact cosine against
    ``vectors`` (a semi-join of survivors only — at most Q x rerank rows
    broadcast). With ``rerank=0`` the ADC estimate itself ranks (sim is then
    the PQ approximation). With no queries the same plan runs on an empty
    probe frame, so the empty result has the same schema as any other.
    """
    qrows = queries.select(qid_col, qvec_col).limit(
        MAX_ADC_LUT_QUERIES + 1
    ).collect()
    if len(qrows) > MAX_ADC_LUT_QUERIES:
        raise ValueError(
            f"IVF-PQ search supports <= {MAX_ADC_LUT_QUERIES} queries per "
            "call (driver-side probe + LUT); batch larger query sets"
        )
    m_, _, dsub = books.shape
    qids = [r[0] for r in qrows]
    qn = _unit_rows([r[1] for r in qrows], m_ * dsub)
    luts = np.einsum("jcd,qjd->qjc", books, qn.reshape(len(qn), m_, dsub))
    order = _probe_lists(qn, cent, n_probe)
    spark = index.sparkSession
    lut_bc = spark.sparkContext.broadcast(({q: i for i, q in enumerate(qids)}, luts))

    # from pandas, not a list of tuples: the Arrow path starts no Python
    # worker (a list runs a PythonRDD job and a second daemon; see
    # geomesa_spark/worker_daemon.py)
    probes = spark.createDataFrame(
        pd.DataFrame({
            qid_col: np.repeat(np.array(qids, dtype=object), order.shape[1]),
            "__probe": order.ravel().astype(np.int32),
        }),
        schema=T.StructType([
            T.StructField(qid_col, queries.schema[qid_col].dataType),
            T.StructField("__probe", T.IntegerType()),
        ]),
    )
    cands = (
        index.filter(F.col("__list").isin(np.unique(order).tolist()))
        .join(F.broadcast(probes), index["__list"] == probes["__probe"])
        .drop("__list", "__probe")
        .filter(F.col(id_col) != F.col(qid_col))
        .withColumn("__adc", _adc_lut_udf(lut_bc, m_)(F.col(qid_col), F.col("pq_code")))
    )
    if rerank <= 0:
        return _top_per_query(cands, "__adc", k, id_col, qid_col).select(
            qid_col, id_col, F.col("__adc").alias("sim"), "rnk"
        )
    survivors = (
        _top_per_query(cands, "__adc", rerank, id_col, qid_col)
        .select(qid_col, id_col)
        .join(F.broadcast(queries.select(qid_col, qvec_col)), qid_col)
    )
    return _exact_topk(
        vectors.join(F.broadcast(survivors), id_col),
        k, id_col, vec_col, qid_col, qvec_col, exclude_self=False,
    )


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
) -> DataFrame:
    """IVF-PQ approximate cosine top-k: -> (qid, vec_id, sim, rnk).

    The canonical web-scale ANN layout (Jegou et al. 2011; the design
    FAISS/ScaNN productionize): a coarse IVF quantizer routes, PQ codes
    score. Contrast with :func:`ivf_topk`, whose candidate join ships
    full ``dim x 4``-byte vectors to the rerank — here the scored
    candidate rows carry ``m`` BYTES each, so the bucket-join shuffle
    shrinks by ~dim*4/m (384x for dim=768, m=8) and the whole scoring
    stage stays memory-resident at 10^11 rows.

    Codebooks and coarse centroids are trained on bounded driver samples
    (deterministic; pass precomputed arrays to skip), the table is
    assigned and encoded in memory, and the search is the one
    :func:`pq_topk_indexed` runs over a persisted index (see
    :func:`_pq_search`): at most ``MAX_ADC_LUT_QUERIES`` queries per call.
    """
    books, cent = _pq_model(
        vectors, dim, m, ksub, n_centroids, vec_col, codebooks, centroids
    )
    return _pq_search(
        _pq_index(vectors, books, cent, id_col, vec_col), queries, books, cent,
        k, n_probe, rerank, vectors, id_col, vec_col, qid_col, qvec_col,
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
    books, cent = _pq_model(
        vectors, dim, m, ksub, n_centroids, vec_col, codebooks, centroids
    )
    index = _pq_index(vectors, books, cent, id_col, vec_col)
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

    The same search as :func:`pq_topk` (:func:`_pq_search`) over the
    persisted index, with the model read from its sidecar. The static
    ``__list IN (...)`` filter prunes the list directories at file-listing
    time. ``rerank > 0`` requires the original ``vectors`` table (the index
    deliberately does not store vectors).
    """
    import os as _os

    with open(_os.path.join(path, "_pq_model.npz"), "rb") as fh:
        model = np.load(fh)
        books = model["codebooks"]
        cent = model["centroids"]
    if rerank > 0 and vectors is None:
        raise ValueError("rerank > 0 needs the original vectors table")
    return _pq_search(
        spark.read.parquet(path), queries, books, cent, k, n_probe, rerank,
        vectors, id_col, vec_col, qid_col, qvec_col,
    )
