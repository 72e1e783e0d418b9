"""Similarity search over embedding columns (array<float>).

Two tiers, per the scale doctrine:

- ``brute_force_topk`` — exact cosine top-k. The query set is a small dim
  (broadcast); scoring is either one JVM expression (zip_with + aggregate,
  whole-stage-codegen'd — the oracle-matchable path) or a numpy matmul
  pandas UDF (the throughput path); top-k per query is a window rank.
  At 100 TB this is the correctness baseline and the refine stage.
- ``ivf_topk`` — IVF-style pruning: k-means coarse centroids (seeded,
  fixed iterations, deterministic), every vector assigned to its nearest
  centroid (one narrow pass), queries probe only the ``nprobe`` nearest
  lists -> the scan touches nlist/nprobe of the data. Centroid assignment
  is a broadcast of (nlist x dim) floats; no shuffle on the corpus beyond
  the partition-local scoring.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, LongType


def cosine_col(a: Column, b: Column) -> Column:
    """Exact cosine similarity as one JVM expression (zip_with dot product +
    aggregate norms). Element order of the sums is array order on both
    sides — reproducible in ANSI SQL oracles."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))
    return dot / F.greatest(na * nb, F.lit(1e-12))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    use_pandas: bool = False,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine.

    Broadcast the (small) query side; rank with a per-query window.
    ``use_pandas=True`` scores with one numpy matmul per Arrow batch —
    same results, ~10x faster at width 512+.
    """
    if not use_pandas:
        joined = corpus.crossJoin(
            F.broadcast(queries.select(query_id_col, query_vec_col))
        )
        scored = joined.withColumn(
            "cosine", F.round(cosine_col(F.col(vec_col), F.col(query_vec_col)), 6)
        )
    else:
        spark = corpus.sparkSession
        q = queries.select(query_id_col, query_vec_col).toPandas()
        qids = q[query_id_col].to_numpy()
        qm = np.stack(q[query_vec_col].map(np.asarray).to_list()).astype(np.float64)
        qn = qm / np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-12)
        bc = spark.sparkContext.broadcast((qids, qn))

        def score_batches(it):
            qids_, qn_ = bc.value
            for pdf in it:
                m = np.stack(pdf[vec_col].map(np.asarray).to_list()).astype(np.float64)
                mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
                sims = mn @ qn_.T  # (batch, n_queries)
                n, nq = sims.shape
                yield pd.DataFrame(
                    {
                        id_col: np.repeat(pdf[id_col].to_numpy(), nq),
                        query_id_col: np.tile(qids_, n),
                        "cosine": np.round(sims.ravel(), 6),
                    }
                )

        scored = corpus.select(id_col, vec_col).mapInPandas(
            score_batches,
            schema=f"{id_col} long, {query_id_col} long, cosine double",
        )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, "cosine")
    )


# --------------------------------------------------------------------- IVF


def _normalize(mat: np.ndarray) -> np.ndarray:
    return mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)


def train_centroids(
    emb: DataFrame,
    n_clusters: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 10_000,
    iters: int = 5,
    seed: int = 42,
) -> np.ndarray:
    """Deterministic spherical k-means centroids from a hash-ordered sample:
    TakeOrdered on ``xxhash64(id)`` picks the same rows at any partition
    count / scan order (a bare ``limit()`` grabs whichever partitions answer
    first, so centroids — and every downstream assignment — would differ run
    to run). Shared coarse quantizer for ``ivf_topk`` and
    ``operators/semantic.py``."""
    sample = (
        emb.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(sample_size)
        .toPandas()
    )
    mat = np.stack(sample[vec_col].map(np.asarray).to_list()).astype(np.float64)
    return _kmeans(mat, n_clusters, iters=iters, seed=seed)


def _kmeans(mat: np.ndarray, nlist: int, iters: int, seed: int) -> np.ndarray:
    """Spherical k-means (unit-norm points + centroids): the coarse
    quantizer must share the query metric (cosine), else list boundaries
    cut across cosine neighborhoods and recall collapses."""
    mat = _normalize(mat)
    rng = np.random.default_rng(seed)
    centroids = mat[rng.choice(len(mat), size=min(nlist, len(mat)), replace=False)]
    for _ in range(iters):
        assign = (mat @ centroids.T).argmax(1)
        for c in range(len(centroids)):
            pts = mat[assign == c]
            if len(pts):
                centroids[c] = pts.mean(0)
        centroids = _normalize(centroids)
    return centroids


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    sample_size: int = 10_000,
    seed: int = 42,
) -> DataFrame:
    """IVF-pruned ANN: train coarse centroids on a seeded sample (driver
    numpy, deterministic), assign corpus rows to nearest list (vectorized
    UDF over a broadcast centroid matrix), probe the ``nprobe`` nearest
    lists per query, exact-rank inside the probed subset.

    At 10^10 rows the assignment is a single narrow pass; the probed join
    is an equi-join on ``list_id`` touching ~nprobe/nlist of the corpus.
    """
    spark = corpus.sparkSession
    centroids = train_centroids(
        corpus, nlist, id_col, vec_col, sample_size, iters=5, seed=seed
    )
    bc = spark.sparkContext.broadcast(centroids)

    @F.pandas_udf(IntegerType())
    def nearest_list(vecs: pd.Series) -> pd.Series:
        c = bc.value
        m = _normalize(np.stack(vecs.map(np.asarray).to_list()).astype(np.float64))
        return pd.Series((m @ c.T).argmax(1).astype(np.int32))

    @F.pandas_udf(ArrayType(IntegerType()))
    def probe_lists(vecs: pd.Series) -> pd.Series:
        c = bc.value
        m = _normalize(np.stack(vecs.map(np.asarray).to_list()).astype(np.float64))
        order = (-(m @ c.T)).argsort(1)[:, :nprobe].astype(np.int32)
        return pd.Series(list(order))

    listed = corpus.withColumn("list_id", nearest_list(F.col(vec_col)))
    probed = queries.withColumn(
        "list_id", F.explode(probe_lists(F.col(query_vec_col)))
    )
    joined = listed.join(F.broadcast(probed), "list_id")
    scored = joined.withColumn(
        "cosine", F.round(cosine_col(F.col(vec_col), F.col(query_vec_col)), 6)
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, "cosine")
    )


# --------------------------------------------------------------------- LSH


def lsh_band_buckets_udf(spark: SparkSession, bands: int, planes_per_band: int, seed: int):
    """Banded random-hyperplane buckets: ``bands`` independent sign-bucket
    keys per vector (band b uses its own ``planes_per_band`` seeded planes).
    Two vectors are candidates if they agree in ANY band (OR over bands, the
    MinHash-banding recall shape) — recall at a cosine threshold is tuned by
    (bands, planes_per_band) instead of a single all-or-nothing key.
    Returns ``array<long>`` of length ``bands``."""
    state: dict = {}

    @F.pandas_udf(ArrayType(LongType()))
    def _buckets(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.map(np.asarray).to_list()).astype(np.float64)
        planes = state.get("planes")
        if planes is None:
            rng = np.random.default_rng(seed)
            planes = rng.standard_normal((bands * planes_per_band, m.shape[1]))
            state["planes"] = planes
        bits = (m @ planes.T) > 0  # (n, bands*ppb)
        bits = bits.reshape(len(m), bands, planes_per_band)
        weights = 1 << np.arange(planes_per_band)
        vals = (bits * weights[None, None, :]).sum(2).astype(np.int64)  # (n, bands)
        return pd.Series(list(vals))

    return _buckets


def random_projection(
    emb: DataFrame,
    out_dim: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    as_csv: bool = False,
) -> DataFrame:
    """Johnson–Lindenstrauss random projection: reduce ``vec_col`` to
    ``out_dim`` with a seeded Gaussian matrix scaled by 1/sqrt(out_dim)
    (Achlioptas 2003 / the sklearn GaussianRandomProjection convention) —
    the standard pre-ANN/pre-clustering dimensionality cut at corpus scale
    (pairwise distances preserved within (1±eps) w.h.p.).

    Scale shape: the (out_dim × d) matrix is a closure constant shipped
    with the UDF (a few KB — never a shuffle); the projection itself is a
    narrow Arrow-batched matmul over ``mapInPandas``, one numpy GEMM per
    record batch, no Python-per-row, no exchange at all. At 100 TB this
    runs at scan speed and the reduced vectors feed ivf_topk /
    semantic_dedup with out_dim/d of the memory.

    Returns ``(id, proj: array<double>)`` with elements rounded to 6
    (decoupling the stored artifact from BLAS summation-order details);
    with ``as_csv=True`` the vector is emitted as a fixed-format
    (``%.6f``) comma-joined string instead — a textual artifact whose
    byte representation is engine-portable (oracle/interchange use).
    """
    head = emb.select(vec_col).first()
    if head is None or head[0] is None:
        raise ValueError(
            "random_projection needs at least one non-null embedding to "
            "derive the input dimension; got an empty frame or a NULL "
            f"first {vec_col!r}"
        )
    d = len(head[0])
    rng = np.random.default_rng(seed)
    mat = (rng.standard_normal((d, out_dim)) / np.sqrt(out_dim)).astype("float64")

    def project(batches):
        for pdf in batches:
            v = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            proj = np.round(v @ mat, 6)
            if as_csv:
                col = [",".join(f"{x:.6f}" for x in row) for row in proj]
            else:
                col = list(proj)
            yield pd.DataFrame({"id": pdf[id_col], "proj": col})

    schema = "id long, proj string" if as_csv else "id long, proj array<double>"
    out = emb.select(id_col, vec_col).mapInPandas(project, schema=schema)
    return out.select(F.col("id").alias(id_col), "proj")


def pca_fit_transform(
    emb: DataFrame,
    n_components: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Exact distributed PCA (Pearson 1901 / the covariance-eigh route):
    fit the population covariance of the embedding column ACROSS THE
    CLUSTER, eigendecompose on the driver (dim × dim — model-sized), and
    project every vector onto the top ``n_components`` axes. The
    curation uses: whitening before cosine thresholds, compact indexes
    (a data-adapted alternative to the JL projection above), and drift
    monitoring via explained-variance over crawl rounds.

    Returns ``(projections, eigvals)``: a DataFrame
    (id_col, pc1..pc{m}) with 6-dp-rounded scores, and the full
    eigenvalue vector (descending numpy array) for explained-variance
    readouts.

    **Exactness discipline** (same contract as ``kmeans_lloyd``): the only
    cross-row reductions — Σ x_i·x_j and Σ x_i — accumulate as
    decimal(28,12)/decimal(28,6) over 6-dp-rounded components, so the
    fitted covariance is a pure function of the data at ANY partition
    count; the eigendecomposition runs once on the driver over those
    exact sums (LAPACK on identical bits is identical), eigenvector signs
    are fixed deterministically (largest-|component| entry positive,
    lowest index on ties), and the per-row projection is numpy inside
    Arrow batches. A double-sum covariance would drift with the shuffle
    layout and flip near-degenerate eigenvectors run to run.

    Scale shape: ONE pass emits the (i<=j) product grain via a row-local
    double posexplode — dim(dim+1)/2 narrow rows per vector feeding a
    dim²-group hash-agg that partially aggregates map-side, so the
    shuffle carries O(partitions · dim²) partials, never O(n · dim²).
    The driver holds only the (dim × dim) sum table. O(n·dim²) multiply
    work is inherent to covariance; it runs inside whole-stage codegen.
    """
    if n_components < 1:
        raise ValueError("pca_fit_transform() needs n_components >= 1")
    spark = emb.sparkSession

    @F.pandas_udf("array<double>")
    def r6(v: pd.Series) -> pd.Series:
        m = np.stack(v.map(np.asarray).to_list()).astype(np.float64)
        return pd.Series(list(np.round(m, 6)))

    base = emb.select(F.col(id_col).alias("id"), r6(F.col(vec_col)).alias("nv"))
    e1 = base.select("id", "nv", F.posexplode("nv").alias("i", "vi"))
    pairs = (
        e1.select("i", "vi", F.posexplode("nv").alias("j", "vj"))
        .where(F.col("j") >= F.col("i"))
        .groupBy("i", "j")
        .agg(
            F.sum((F.col("vi") * F.col("vj")).cast("decimal(28,12)")).alias("s2"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    sums = (
        e1.groupBy("i")
        .agg(F.sum(F.col("vi").cast("decimal(28,6)")).alias("s1"))
        .collect()
    )
    if not pairs:
        raise ValueError("pca_fit_transform() needs a non-empty input")
    dim = max(r["j"] for r in pairs) + 1
    n = next(r["n"] for r in pairs)
    mu = np.zeros(dim)
    for r in sums:
        mu[r["i"]] = float(r["s1"]) / n
    cov = np.zeros((dim, dim))
    for r in pairs:
        v = float(r["s2"]) / n - mu[r["i"]] * mu[r["j"]]
        cov[r["i"], r["j"]] = v
        cov[r["j"], r["i"]] = v
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1]
    evals = evals[order]
    comps = evecs[:, order][:, :n_components]  # dim × m
    # deterministic sign: the largest-|entry| component of each axis is
    # positive (ties -> lowest index wins, argmax convention)
    for c in range(comps.shape[1]):
        if comps[np.argmax(np.abs(comps[:, c])), c] < 0:
            comps[:, c] = -comps[:, c]
    bc = spark.sparkContext.broadcast(comps)
    bc_mu = spark.sparkContext.broadcast(mu)

    @F.pandas_udf("array<double>")
    def project(v: pd.Series) -> pd.Series:
        w = bc.value
        m = np.round(
            np.stack(v.map(np.asarray).to_list()).astype(np.float64), 6
        ) - bc_mu.value
        return pd.Series(list(np.round(m @ w, 6)))
    out = emb.select(F.col(id_col), project(F.col(vec_col)).alias("_pc"))
    cols = [F.col("_pc")[i].alias(f"pc{i + 1}") for i in range(n_components)]
    return out.select(F.col(id_col), *cols), evals


# --------------------------------------------------------------------- PQ


def train_pq_codebooks(
    emb: DataFrame,
    m_subspaces: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 10_000,
    iters: int = 5,
    seed: int = 42,
) -> np.ndarray:
    """Product-quantization codebooks (Jégou, Douze & Schmid, TPAMI 2011):
    split the (unit-normalized) embedding into ``m_subspaces`` contiguous
    blocks and train an independent L2 k-means codebook of ``n_codes``
    centroids per block — the memory-compressed ANN representation
    (``m·log2(K)`` bits per vector instead of ``4·D`` bytes; at
    m=8, K=16 that is 4 bytes vs 256: a 10^10-vector index fits one
    machine's RAM).

    Same determinism discipline as ``train_centroids``: hash-ordered
    TakeOrdered sample, seeded init per subspace (seed+j), fixed Lloyd
    iterations, argmin first-index tie-break. Distance uses the expanded
    form ``-2·x@C.T + Σc²`` so the independent oracle can replicate it
    bit-for-bit. Returns (m, K, D/m) float64."""
    sample = (
        emb.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(sample_size)
        .toPandas()
    )
    mat = _normalize(
        np.stack(sample[vec_col].map(np.asarray).to_list()).astype(np.float64)
    )
    d = mat.shape[1]
    if d % m_subspaces:
        raise ValueError(f"dim {d} not divisible by m={m_subspaces}")
    dsub = d // m_subspaces
    k = min(n_codes, len(mat))
    books = []
    for j in range(m_subspaces):
        sub = mat[:, j * dsub : (j + 1) * dsub]
        rng = np.random.default_rng(seed + j)
        cb = sub[rng.choice(len(sub), size=k, replace=False)].copy()
        for _ in range(iters):
            assign = (-2.0 * sub @ cb.T + (cb**2).sum(1)).argmin(1)
            for c in range(k):
                pts = sub[assign == c]
                if len(pts):
                    cb[c] = pts.mean(0)
        books.append(cb)
    return np.stack(books)


def _pq_codes_and_err(mat: np.ndarray, books: np.ndarray):
    """Codes (n, m) + reconstruction error (n,) for unit-normalized rows,
    using the same expanded-distance formula as training."""
    m, _k, dsub = books.shape
    n = mat.shape[0]
    codes = np.zeros((n, m), dtype=np.int64)
    err = np.zeros(n, dtype=np.float64)
    for j in range(m):
        sub = mat[:, j * dsub : (j + 1) * dsub]
        cb = books[j]
        codes[:, j] = (-2.0 * sub @ cb.T + (cb**2).sum(1)).argmin(1)
        err += ((sub - cb[codes[:, j]]) ** 2).sum(1)
    return codes, err


def pq_encode(
    emb: DataFrame,
    books: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to its PQ code string ("c0-c1-…-cm") plus the
    L2 reconstruction error — one vectorized Arrow pass, codebooks
    broadcast, nothing but (id, code, err) leaves the executor."""
    spark = emb.sparkSession
    bc = spark.sparkContext.broadcast(books)

    def enc(batches):
        b = bc.value
        for pdf in batches:
            mat = _normalize(
                np.stack(pdf[vec_col].map(np.asarray).to_list()).astype(np.float64)
            )
            codes, err = _pq_codes_and_err(mat, b)
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].to_numpy(),
                    "codes": ["-".join(str(c) for c in row) for row in codes],
                    "recon_err": np.round(err, 6),
                }
            )

    return emb.select(id_col, vec_col).mapInPandas(
        enc, schema="vec_id long, codes string, recon_err double"
    )


def pq_adc_topk(
    emb: DataFrame,
    queries: DataFrame,
    books: np.ndarray,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: exact query subvectors against
    quantized corpus codes via per-query lookup tables — the PQ search
    path. LUTs are (nq, m, K) floats broadcast with the codebooks; per
    Arrow batch the scan cost is one argmin-encoded table lookup sum, so
    a 10^10-vector scan streams codes, never raw vectors. Ties break by
    ascending vec_id (codes collide by design — ADC distances tie)."""
    spark = emb.sparkSession
    q = queries.select(query_id_col, query_vec_col).toPandas()
    qids = q[query_id_col].to_numpy()
    qm = _normalize(np.stack(q[query_vec_col].map(np.asarray).to_list()).astype(np.float64))
    m, kk, dsub = books.shape
    lut = np.zeros((len(qids), m, kk), dtype=np.float64)
    for j in range(m):
        qsub = qm[:, j * dsub : (j + 1) * dsub]  # (nq, dsub)
        lut[:, j, :] = ((qsub[:, None, :] - books[j][None, :, :]) ** 2).sum(-1)
    bc = spark.sparkContext.broadcast((qids, lut, books))

    def score(batches):
        qids_, lut_, b = bc.value
        nq = len(qids_)
        for pdf in batches:
            mat = _normalize(
                np.stack(pdf[vec_col].map(np.asarray).to_list()).astype(np.float64)
            )
            codes, _ = _pq_codes_and_err(mat, b)
            n = mat.shape[0]
            adc = np.zeros((n, nq), dtype=np.float64)
            for j in range(b.shape[0]):
                adc += lut_[:, j, codes[:, j]].T  # (n, nq)
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), nq),
                    query_id_col: np.tile(qids_, n),
                    "adc_dist": np.round(adc.ravel(), 6),
                }
            )

    scored = emb.select(id_col, vec_col).mapInPandas(
        score, schema=f"{id_col} long, {query_id_col} long, adc_dist double"
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("adc_dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, "adc_dist")
    )


def ann_recall(
    approx: DataFrame,
    exact: DataFrame,
    k: int = 10,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall@k of an approximate top-k result against exact ground truth
    — the eval every ANN deployment (IVF nprobe sweeps, PQ code sizes,
    LSH band counts) is tuned by. Both inputs are (query, rank, id)
    frames as the ``*_topk`` operators emit.

    Returns (query_id, k, n_approx, n_hits, recall): ``n_approx`` ≤ k
    when the candidate set underfills (nprobe too small), ``recall =
    n_hits / k`` rounded 6 — deliberately over k, not n_approx, so an
    underfilled result is penalized, not excused.

    Shape: two rank filters, one (query,id) semi-join, two query-keyed
    hash-aggs — ground truth is the expensive input, this eval is free
    by comparison."""
    if k < 1:
        raise ValueError("ann_recall() needs k >= 1")
    a = approx.filter(F.col("rank") <= k).select(query_id_col, id_col)
    e = exact.filter(F.col("rank") <= k).select(query_id_col, id_col)
    hits = (
        a.join(e, [query_id_col, id_col], "left_semi")
        .groupBy(query_id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    na = a.groupBy(query_id_col).agg(F.count(F.lit(1)).alias("n_approx"))
    return (
        na.join(hits, query_id_col, "left")
        .select(
            query_id_col,
            F.lit(int(k)).cast("bigint").alias("k"),
            F.col("n_approx").cast("bigint").alias("n_approx"),
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)).cast("double") / F.lit(float(k)), 6
            ).alias("recall"),
        )
    )


def mmr_rerank(
    candidates: DataFrame,
    k: int = 5,
    lam: float = 0.7,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_col: str = "cosine",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
    greedily pick, per query, the candidate maximizing
    ``lam·relevance − (1−lam)·max cosine to anything already picked`` —
    the standard diversity pass over an ANN top-k before the results feed
    retrieval-augmented training or dedup-aware sampling (a top-10 of ten
    near-identical hits is worth one).

    Input is a top-k frame carrying vectors: (query, id, score, vec).
    The greedy loop is inherently sequential but K-bounded, so it runs
    per query inside one Arrow ``applyInPandas`` group — the grouped-map
    pattern for small-per-group sequential algorithms; the shuffle is one
    query-keyed exchange of k rows per query, never the corpus.
    Determinism: candidates pre-sort by (score desc, id asc); pairwise
    sims and MMR scores round to 6 in numpy; ties pick the lower id.
    Returns (query, mmr_rank, id, mmr_score)."""
    if k < 1 or not (0.0 <= lam <= 1.0):
        raise ValueError("mmr_rerank() needs k >= 1 and 0 <= lam <= 1")
    import pandas as pd  # noqa: F811

    schema = (
        f"{query_id_col} long, mmr_rank long, {id_col} long, mmr_score double"
    )

    def rerank(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            [score_col, id_col], ascending=[False, True]
        ).reset_index(drop=True)
        ids = pdf[id_col].to_numpy()
        rel = pdf[score_col].to_numpy(dtype=np.float64)
        m = _normalize(
            np.stack(pdf[vec_col].map(np.asarray).to_list()).astype(np.float64)
        )
        sims = np.round(m @ m.T, 6)
        n = len(ids)
        picked: list[int] = []
        free = list(range(n))
        rows = []
        for rank in range(1, min(k, n) + 1):
            best, best_key = None, None
            for i in free:
                div = max((sims[i, j] for j in picked), default=0.0)
                score = round(lam * rel[i] - (1.0 - lam) * div, 6)
                key = (score, -int(ids[i]))
                if best_key is None or key > best_key:
                    best, best_key = i, key
            picked.append(best)
            free.remove(best)
            rows.append(
                {
                    query_id_col: int(pdf[query_id_col].iloc[0]),
                    "mmr_rank": rank,
                    id_col: int(ids[best]),
                    "mmr_score": float(best_key[0]),
                }
            )
        return pd.DataFrame(rows, columns=[query_id_col, "mmr_rank", id_col, "mmr_score"])

    return candidates.groupBy(query_id_col).applyInPandas(rerank, schema=schema)


def binary_signature_cols(vec_col: str = "embedding", dim: int = 64):
    """Two 32-bit sign-quantization words over a ``dim``-wide embedding
    (bit i set iff component i >= 0) — 64 dims become 8 bytes, a 32×
    memory cut over float32. Words stay positive (32 bits in a bigint):
    no sign traps, SQL-mirrorable bit-for-bit. Bits accumulate as exact
    powers of two inside one in-cell fold (sums < 2^32: exact in
    double). Returns (w0, w1) column expressions."""
    if dim % 2 != 0 or dim > 64:
        raise ValueError("binary_signature_cols() supports even dim <= 64")
    half = dim // 2

    def word(lo: int) -> "F.Column":
        return F.aggregate(
            F.transform(
                F.slice(F.col(vec_col), lo + 1, half),
                lambda v, i: F.when(v >= 0, F.pow(F.lit(2.0), i)).otherwise(
                    F.lit(0.0)
                ),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).cast("bigint")

    return word(0), word(half)


def binary_hamming_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    shortlist: int = 50,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Binary-quantized ANN: sign signatures (2×32-bit words), Hamming
    shortlist via ``bit_count(xor)`` (pure JVM, whole-stage codegen —
    the memory-bandwidth regime where binary quantization beats float
    scans 30×), then exact-cosine rerank of the ``shortlist`` survivors
    only. The standard two-stage shape (FAISS binary indexes, SQ/BQ in
    every vector store); complements IVF (list pruning) and PQ (code
    compression) with the cheapest possible first pass.

    Deterministic: Hamming ties break on id; final order
    (cosine desc, id). Returns (query, rank, id, hamming, cosine) for
    the top ``k``."""
    w0, w1 = binary_signature_cols(vec_col, dim)
    qw0, qw1 = binary_signature_cols(query_vec_col, dim)
    c = corpus.select(F.col(id_col), F.col(vec_col), w0.alias("w0"), w1.alias("w1"))
    q = queries.select(
        F.col(query_id_col), F.col(query_vec_col),
        qw0.alias("qw0"), qw1.alias("qw1"),
    )
    joined = c.crossJoin(F.broadcast(q))
    ham = (
        F.bit_count(F.expr("w0 ^ qw0")) + F.bit_count(F.expr("w1 ^ qw1"))
    ).cast("bigint")
    from pyspark.sql import Window

    ws = Window.partitionBy(query_id_col).orderBy(F.asc("hamming"), F.asc(id_col))
    short = (
        joined.withColumn("hamming", ham)
        .withColumn("srank", F.row_number().over(ws))
        .filter(F.col("srank") <= shortlist)
    )
    rer = short.withColumn(
        "cosine", F.round(cosine_col(F.col(vec_col), F.col(query_vec_col)), 6)
    )
    wf = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        rer.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, "hamming", "cosine")
    )
