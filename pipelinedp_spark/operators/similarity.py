"""Similarity search over embedding columns (array<float>).

- cosine_topk: brute-force exact top-k per query — the correctness baseline.
  Queries are broadcast (small side); scoring is a native higher-order-
  function expression (zip_with + aggregate), fully JVM-side so the oracle
  SQL can mirror it exactly; top-k is a window over the query id.
- hyperplane bands / lsh_topk: random-hyperplane LSH — the scale path.
  Planes are derived deterministically from md5, so no driver-side RNG
  state and results are reproducible across retries. Signature and
  pair-cosine evaluation run as Arrow-batched pandas UDFs: higher-order
  column lambdas are interpreted (no codegen, no CSE), so per-row numpy
  beats them by ~2 orders of magnitude on 64-dim vectors.

No reference counterpart (net-new per project north star).
"""

from __future__ import annotations

import hashlib
from typing import Optional

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from pipelinedp_spark import store


def dot_expr(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0).cast("double"),
                       lambda acc, v: acc + v)


def norm_expr(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0).cast("double"),
                              lambda acc, v: acc + v.cast("double") * v))


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def cosine_topk(corpus: DataFrame,
                queries: DataFrame,
                k: int = 10,
                corpus_id: str = "vec_id",
                corpus_vec: str = "embedding",
                query_id: str = "query_id",
                query_vec: str = "query_vec") -> DataFrame:
    """Exact brute-force top-k cosine neighbors per query.

    corpus x broadcast(queries) -> score -> window top-k per query.
    Scoring runs in the Arrow-batched numpy pair UDF (`cosine_pairs_udf`)
    rather than higher-order column lambdas: HOF lambdas are interpreted
    (no codegen), which measured ~2 orders slower per pair on 64-dim
    vectors. Returns (query_id, vec_id, rank, cosine).
    """
    cos = cosine_pairs_udf()
    q = queries.select(F.col(query_id), F.col(query_vec))
    scored = corpus.select(F.col(corpus_id), F.col(corpus_vec)) \
        .crossJoin(F.broadcast(q)) \
        .select(F.col(query_id), F.col(corpus_id),
                cos(F.col(corpus_vec), F.col(query_vec)).alias("cosine"))
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(),
                                             F.col(corpus_id).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, corpus_id, "rank",
                    F.round(F.col("cosine"), 6).alias("cosine")))


def _md5_unit(seed: str) -> float:
    """Deterministic pseudo-random value in [-0.5, 0.5) from md5(seed)."""
    return int(hashlib.md5(seed.encode()).hexdigest()[:8], 16) / float(
        1 << 32) - 0.5


def _plane_matrix(num_planes: int, dim: int,
                  seed_fn) -> np.ndarray:
    """(num_planes, dim) float64 hyperplane coefficients, md5-derived."""
    return np.array([[_md5_unit(seed_fn(p, d)) for d in range(dim)]
                     for p in range(num_planes)])


def cosine_pairs_udf() -> "pandas_udf":
    """Vectorized exact cosine for (vec_a, vec_b) column pairs."""

    @pandas_udf("double")
    def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        if len(va) == 0:
            return pd.Series([], dtype="float64")
        a = np.stack(va.to_numpy()).astype("float64")
        b = np.stack(vb.to_numpy()).astype("float64")
        num = np.einsum("ij,ij->i", a, b)
        den = np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
        return pd.Series(num / den)

    return _cos


def hyperplane_signature_udf(num_planes: int = 12, dim: int = 64):
    """Random-hyperplane LSH bucket id (0..2^num_planes-1) as bigint.

    Plane p's coefficient for dimension d is md5("p:d")-derived. Bit p of
    the signature is 1 iff dot(plane_p, vec) > 0. Arrow-batched numpy.
    """
    planes = _plane_matrix(num_planes, dim, lambda p, d: f"{p}:{d}")
    weights = (1 << np.arange(num_planes)).astype("int64")

    @pandas_udf("long")
    def _sig(vec: pd.Series) -> pd.Series:
        if len(vec) == 0:
            return pd.Series([], dtype="int64")
        v = np.stack(vec.to_numpy()).astype("float64")
        bits = (v @ planes.T) > 0
        return pd.Series(bits @ weights)

    return _sig


def hyperplane_bands_udf(num_bands: int = 6, planes_per_band: int = 3,
                         dim: int = 64):
    """Banded hyperplane signatures (OR-construction): one bucket id per
    band, each from `planes_per_band` md5-derived hyperplanes seeded by
    (band, plane). Vectors matching in ANY band become candidates — recall
    1-(1-p^r)^b vs p^r for a single AND-only signature. Returns
    array<long> of length num_bands."""
    n = num_bands * planes_per_band
    planes = _plane_matrix(
        n, dim,
        lambda p, d: f"{p // planes_per_band}:{p % planes_per_band}:{d}")
    weights = (1 << np.arange(planes_per_band)).astype("int64")

    @pandas_udf("array<long>")
    def _bands(vec: pd.Series) -> pd.Series:
        if len(vec) == 0:
            return pd.Series([], dtype="object")
        v = np.stack(vec.to_numpy()).astype("float64")
        bits = ((v @ planes.T) > 0).reshape(len(v), num_bands,
                                            planes_per_band)
        buckets = bits @ weights  # (n, num_bands)
        return pd.Series(list(buckets))

    return _bands


def train_ivf_centroids(x: "np.ndarray", num_cells: int, seed: int = 7,
                        iters: int = 10) -> "np.ndarray":
    """Spherical k-means (Lloyd) over a sample matrix — deterministic for a
    given (sample, num_cells, seed). Shared by the Spark operator and the
    oracle generator so both train bit-identical centroids."""
    x = np.asarray(x, dtype="float64")
    # Normalize so euclidean k-means approximates cosine cells.
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    centroids = x[rng.choice(len(x), size=min(num_cells, len(x)),
                             replace=False)]
    for _ in range(iters):
        assign = (x @ centroids.T).argmax(axis=1)
        for c in range(len(centroids)):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                centroids[c] = m / max(np.linalg.norm(m), 1e-12)
    return centroids


def sample_corpus_matrix(corpus: DataFrame, corpus_id: str, corpus_vec: str,
                         sample_size: int = 10_000) -> "np.ndarray":
    """Deterministic quantizer-training sample: the `sample_size` lowest-id
    vectors (TakeOrderedAndProject — no full sort, no shuffle). Id order is
    reproducible across runs/partition layouts, unlike bare limit(). On a
    corpus whose ids correlate with content, pass a pre-built sample or
    hash-order upstream (functions.sampling) instead."""
    pdf = (corpus.select(corpus_id, corpus_vec)
           .orderBy(F.col(corpus_id)).limit(sample_size).toPandas())
    return np.stack(pdf[corpus_vec].to_numpy()).astype("float64")


def ivf_topk(corpus: DataFrame,
             queries: DataFrame,
             k: int = 10,
             num_cells: int = 16,
             nprobe: int = 2,
             corpus_id: str = "vec_id",
             corpus_vec: str = "embedding",
             query_id: str = "query_id",
             query_vec: str = "query_vec",
             seed: int = 7,
             centroids: Optional["np.ndarray"] = None,
             sample_size: int = 10_000) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a k-means coarse quantizer
    assigns corpus vectors to cells; each query scores only its `nprobe`
    nearest cells — the classic alternative to LSH bucketing.

    Scale shape: the quantizer trains on a deterministic sample (k-means
    over all of 100 TB is wasteful and unnecessary), assignment is one
    Arrow-batched numpy pass, and the probe join is corpus x
    broadcast(query-cell pairs) on the cell id — cost ~ nprobe/num_cells
    of brute force. Pass `centroids` to skip training (e.g. a quantizer
    trained offline once and reused across queries).
    Returns (query_id, vec_id, rank, cosine).
    """
    if centroids is None:
        x = sample_corpus_matrix(corpus, corpus_id, corpus_vec, sample_size)
        centroids = train_ivf_centroids(x, num_cells, seed)

    cts = np.asarray(centroids, dtype="float64")  # closure-captured, small

    def cell_udf(top: int):
        @pandas_udf("array<int>")
        def _cells(vec: pd.Series) -> pd.Series:
            if len(vec) == 0:
                return pd.Series([], dtype="object")
            v = np.stack(vec.to_numpy()).astype("float64")
            v = v / np.maximum(np.linalg.norm(v, axis=1, keepdims=True),
                               1e-12)
            sims = v @ cts.T
            order = np.argsort(-sims, axis=1)[:, :top].astype("int32")
            return pd.Series(list(order))

        return _cells

    cos = cosine_pairs_udf()
    c = corpus.select(
        F.col(corpus_id), F.col(corpus_vec),
        F.element_at(cell_udf(1)(F.col(corpus_vec)), 1).alias("cell"))
    q = queries.select(
        F.col(query_id), F.col(query_vec),
        F.explode(cell_udf(nprobe)(F.col(query_vec))).alias("cell"))
    scored = c.join(F.broadcast(q), "cell").select(
        F.col(query_id), F.col(corpus_id),
        cos(F.col(corpus_vec), F.col(query_vec)).alias("cosine"))
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(),
                                             F.col(corpus_id).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, corpus_id, "rank",
                    F.round(F.col("cosine"), 6).alias("cosine")))


def lsh_topk(corpus: DataFrame,
             queries: DataFrame,
             k: int = 10,
             num_planes: int = 8,
             dim: int = 64,
             corpus_id: str = "vec_id",
             corpus_vec: str = "embedding",
             query_id: str = "query_id",
             query_vec: str = "query_vec") -> DataFrame:
    """Approximate top-k: only corpus vectors in the query's hyperplane
    bucket are scored. Recall depends on num_planes; the bucket join
    replaces the full cross product (the 100 TB path).
    Returns (query_id, vec_id, rank, cosine)."""
    sig = hyperplane_signature_udf(num_planes, dim)
    cos = cosine_pairs_udf()
    c = corpus.select(F.col(corpus_id), F.col(corpus_vec),
                      sig(F.col(corpus_vec)).alias("bucket"))
    q = queries.select(F.col(query_id), F.col(query_vec),
                       sig(F.col(query_vec)).alias("bucket"))
    scored = c.join(F.broadcast(q), "bucket").select(
        F.col(query_id), F.col(corpus_id),
        cos(F.col(corpus_vec), F.col(query_vec)).alias("cosine"))
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(),
                                             F.col(corpus_id).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, corpus_id, "rank",
                    F.round(F.col("cosine"), 6).alias("cosine")))


def train_pq_codebooks(x: "np.ndarray", m: int = 4, ksub: int = 16,
                       seed: int = 7, iters: int = 10) -> "np.ndarray":
    """Product-quantization codebooks (Jegou, Douze, Schmid 2011,
    "Product Quantization for Nearest Neighbor Search"): split the
    dimension into ``m`` contiguous subspaces and run plain euclidean
    k-means (Lloyd) in each. Deterministic for a given (sample, m, ksub,
    seed) — shared by the Spark operator and the oracle generator.
    Returns (m, ksub, dim // m)."""
    x = np.asarray(x, dtype="float64")
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, ksub, sub))
    for j in range(m):
        xs = x[:, j * sub:(j + 1) * sub]
        cents = xs[rng.choice(len(xs), size=min(ksub, len(xs)),
                              replace=False)].copy()
        for _ in range(iters):
            d = ((xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for c in range(len(cents)):
                members = xs[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books[j] = cents
    return books


def pq_topk(corpus: DataFrame,
            queries: DataFrame,
            k: int = 10,
            m: int = 4,
            ksub: int = 16,
            corpus_id: str = "vec_id",
            corpus_vec: str = "embedding",
            query_id: str = "query_id",
            query_vec: str = "query_vec",
            seed: int = 7,
            codebooks: Optional["np.ndarray"] = None,
            sample_size: int = 10_000) -> DataFrame:
    """Product-quantization approximate top-k by asymmetric distance
    (ADC): corpus vectors compress to ``m`` uint8 codes (here <= ksub);
    each query scores a vector as the sum of per-subspace distances to
    the CODED centroids — memory per vector drops from dim floats to m
    bytes, the regime where 100 TB of embeddings fits a cluster's RAM.

    Scale shape: codebooks train on a deterministic sample; encoding is
    one Arrow-batched numpy pass (codes travel with the row — no
    shuffle); scoring is corpus x broadcast(queries) with the per-query
    distance TABLE (m x ksub) computed once per Arrow batch, so per-pair
    work is m table lookups + a sum. Distances use the dot-product
    identity |a-b|^2 = a.a - 2 a.b + b.b term-by-term per subspace —
    the exact expression the SQL oracle mirrors.
    Returns (query_id, vec_id, rank, adist) ranked by (adist ASC, id)."""
    if codebooks is None:
        x = sample_corpus_matrix(corpus, corpus_id, corpus_vec, sample_size)
        codebooks = train_pq_codebooks(x, m, ksub, seed)
    cb = np.asarray(codebooks, dtype="float64")   # (m, ksub, sub)
    m_, ksub_, sub = cb.shape

    @pandas_udf("array<int>")
    def _encode(vec: pd.Series) -> pd.Series:
        if len(vec) == 0:
            return pd.Series([], dtype="object")
        v = np.stack(vec.to_numpy()).astype("float64")
        codes = np.empty((len(v), m_), dtype="int32")
        for j in range(m_):
            vs = v[:, j * sub:(j + 1) * sub]
            # |a-b|^2 via the identity, term order matching the oracle
            d = ((vs * vs).sum(axis=1, keepdims=True)
                 - 2.0 * vs @ cb[j].T
                 + (cb[j] * cb[j]).sum(axis=1)[None, :])
            codes[:, j] = d.argmin(axis=1)
        return pd.Series(list(codes))

    @pandas_udf("double")
    def _adc(codes: pd.Series, qv: pd.Series) -> pd.Series:
        if len(codes) == 0:
            return pd.Series([], dtype="float64")
        q = np.stack(qv.to_numpy()).astype("float64")
        c = np.stack(codes.to_numpy()).astype("int64")
        out = np.zeros(len(c))
        # table per distinct query in the batch (queries are broadcast,
        # so batches hold few distinct queries, many corpus rows)
        uniq, inv = np.unique(q, axis=0, return_inverse=True)
        for ui, qrow in enumerate(uniq):
            tbl = np.empty((m_, ksub_))
            for j in range(m_):
                qs = qrow[j * sub:(j + 1) * sub]
                tbl[j] = ((qs * qs).sum()
                          - 2.0 * cb[j] @ qs
                          + (cb[j] * cb[j]).sum(axis=1))
            mask = inv == ui
            rows = c[mask]
            out[mask] = tbl[np.arange(m_)[None, :], rows].sum(axis=1)
        return pd.Series(out)

    coded = corpus.select(F.col(corpus_id),
                          _encode(F.col(corpus_vec)).alias("__codes__"))
    scored = coded.crossJoin(
        F.broadcast(queries.select(query_id, query_vec))).select(
        F.col(query_id), F.col(corpus_id),
        _adc(F.col("__codes__"), F.col(query_vec)).alias("adist"))
    w = Window.partitionBy(query_id).orderBy(F.col("adist").asc(),
                                             F.col(corpus_id).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, corpus_id, "rank",
                    F.round(F.col("adist"), 6).alias("adist")))


def ivf_pq_topk(corpus: DataFrame,
                queries: DataFrame,
                k: int = 10,
                num_cells: int = 8,
                nprobe: int = 2,
                m: int = 4,
                ksub: int = 16,
                corpus_id: str = "vec_id",
                corpus_vec: str = "embedding",
                query_id: str = "query_id",
                query_vec: str = "query_vec",
                seed: int = 7,
                centroids: Optional["np.ndarray"] = None,
                codebooks: Optional["np.ndarray"] = None,
                sample_size: int = 10_000) -> DataFrame:
    """IVF-PQ: the production ANN architecture — an IVF coarse quantizer
    prunes the corpus to each query's ``nprobe`` cells, and PQ codes
    score the survivors by asymmetric distance. Cost ~ nprobe/num_cells
    of the exhaustive ADC scan, memory ~ m bytes/vector + a cell id.

    Both quantizers train on the same deterministic sample (pass
    ``centroids``/``codebooks`` to reuse offline-trained ones); scoring,
    ranking and tie-breaks are identical to `pq_topk`, so results are
    exactly pq_topk restricted to probed cells.
    Returns (query_id, vec_id, rank, adist)."""
    if centroids is None or codebooks is None:
        x = sample_corpus_matrix(corpus, corpus_id, corpus_vec, sample_size)
        if centroids is None:
            centroids = train_ivf_centroids(x, num_cells, seed)
        if codebooks is None:
            codebooks = train_pq_codebooks(x, m, ksub, seed)
    cts = np.asarray(centroids, dtype="float64")
    cb = np.asarray(codebooks, dtype="float64")
    m_, ksub_, sub = cb.shape

    def cell_udf(top: int):
        @pandas_udf("array<int>")
        def _cells(vec: pd.Series) -> pd.Series:
            if len(vec) == 0:
                return pd.Series([], dtype="object")
            v = np.stack(vec.to_numpy()).astype("float64")
            v = v / np.maximum(np.linalg.norm(v, axis=1, keepdims=True),
                               1e-12)
            order = np.argsort(-(v @ cts.T), axis=1)[:, :top].astype(
                "int32")
            return pd.Series(list(order))
        return _cells

    @pandas_udf("array<int>")
    def _encode(vec: pd.Series) -> pd.Series:
        if len(vec) == 0:
            return pd.Series([], dtype="object")
        v = np.stack(vec.to_numpy()).astype("float64")
        codes = np.empty((len(v), m_), dtype="int32")
        for j in range(m_):
            vs = v[:, j * sub:(j + 1) * sub]
            d = ((vs * vs).sum(axis=1, keepdims=True)
                 - 2.0 * vs @ cb[j].T
                 + (cb[j] * cb[j]).sum(axis=1)[None, :])
            codes[:, j] = d.argmin(axis=1)
        return pd.Series(list(codes))

    @pandas_udf("double")
    def _adc(codes: pd.Series, qv: pd.Series) -> pd.Series:
        if len(codes) == 0:
            return pd.Series([], dtype="float64")
        q = np.stack(qv.to_numpy()).astype("float64")
        c = np.stack(codes.to_numpy()).astype("int64")
        out = np.zeros(len(c))
        uniq, inv = np.unique(q, axis=0, return_inverse=True)
        for ui, qrow in enumerate(uniq):
            tbl = np.empty((m_, ksub_))
            for j in range(m_):
                qs = qrow[j * sub:(j + 1) * sub]
                tbl[j] = ((qs * qs).sum() - 2.0 * cb[j] @ qs
                          + (cb[j] * cb[j]).sum(axis=1))
            mask = inv == ui
            out[mask] = tbl[np.arange(m_)[None, :], c[mask]].sum(axis=1)
        return pd.Series(out)

    coded = corpus.select(
        F.col(corpus_id),
        F.element_at(cell_udf(1)(F.col(corpus_vec)), 1).alias("cell"),
        _encode(F.col(corpus_vec)).alias("__codes__"))
    q = queries.select(
        F.col(query_id), F.col(query_vec),
        F.explode(cell_udf(nprobe)(F.col(query_vec))).alias("cell"))
    scored = coded.join(F.broadcast(q), "cell").select(
        F.col(query_id), F.col(corpus_id),
        _adc(F.col("__codes__"), F.col(query_vec)).alias("adist"))
    w = Window.partitionBy(query_id).orderBy(F.col("adist").asc(),
                                             F.col(corpus_id).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, corpus_id, "rank",
                    F.round(F.col("adist"), 6).alias("adist")))


def ivf_pq_rerank_topk(corpus: DataFrame,
                       queries: DataFrame,
                       k: int = 10,
                       shortlist_mult: int = 4,
                       num_cells: int = 8,
                       nprobe: int = 2,
                       m: int = 4,
                       ksub: int = 16,
                       corpus_id: str = "vec_id",
                       corpus_vec: str = "embedding",
                       query_id: str = "query_id",
                       query_vec: str = "query_vec",
                       seed: int = 7,
                       centroids: Optional["np.ndarray"] = None,
                       codebooks: Optional["np.ndarray"] = None,
                       sample_size: int = 10_000) -> DataFrame:
    """Two-stage retrieval — the production serving shape: IVF-PQ
    produces a ``k * shortlist_mult`` shortlist from compressed codes
    (never touching full vectors beyond the probed cells), then ONLY
    the shortlist rows join back their exact vectors for a true-cosine
    re-rank. Fixes PQ quantization error at the top of the ranking for
    the cost of k*mult exact distances per query.

    Scale shape: stage 1 is `ivf_pq_topk` (nprobe/num_cells of an ADC
    scan over m-byte codes); stage 2's vector fetch is an equi-join of
    a (n_queries x k*mult)-row table against the corpus — AQE
    broadcasts the shortlist side — and the final top-k is a per-query
    WindowGroupLimit. Returns (query_id, vec_id, rank, cosine).
    """
    shortlist = ivf_pq_topk(
        corpus, queries, k * shortlist_mult, num_cells, nprobe, m, ksub,
        corpus_id, corpus_vec, query_id, query_vec, seed,
        centroids, codebooks, sample_size)
    cos = cosine_pairs_udf()
    withv = (shortlist.select(F.col(query_id), F.col(corpus_id))
             .join(corpus.select(F.col(corpus_id), F.col(corpus_vec)),
                   corpus_id)
             .join(F.broadcast(queries.select(F.col(query_id),
                                              F.col(query_vec))),
                   query_id))
    scored = withv.select(
        F.col(query_id), F.col(corpus_id),
        cos(F.col(corpus_vec), F.col(query_vec)).alias("cosine"))
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(),
                                             F.col(corpus_id).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, corpus_id, "rank",
                    F.round(F.col("cosine"), 6).alias("cosine")))


def hard_negatives(corpus: DataFrame,
                   queries: DataFrame,
                   k: int = 5,
                   corpus_id: str = "vec_id",
                   corpus_vec: str = "embedding",
                   corpus_label: str = "label",
                   query_id: str = "query_id",
                   query_vec: str = "query_vec",
                   query_label: str = "query_label") -> DataFrame:
    """Hard-negative mining for contrastive embedding training: per
    anchor, the top-k highest-cosine corpus rows whose label DIFFERS
    from the anchor's — the near-miss negatives that carry the
    gradient signal (in-batch random negatives are mostly easy).

    Scale shape: corpus x broadcast(anchors) with the label-mismatch
    filter applied BEFORE scoring (Catalyst pushes it into the
    broadcast-join output, so same-label pairs are never scored);
    Arrow-batched cosine; per-anchor top-k via WindowGroupLimit. For
    web-scale corpora swap the scoring stage for `ivf_pq_rerank_topk`
    over a label-partitioned index; this exact form is the oracle
    baseline. Returns (query_id, vec_id, rank, cosine)."""
    cos = cosine_pairs_udf()
    q = queries.select(F.col(query_id), F.col(query_vec),
                       F.col(query_label))
    scored = (corpus.select(F.col(corpus_id), F.col(corpus_vec),
                            F.col(corpus_label))
              .crossJoin(F.broadcast(q))
              .filter(F.col(corpus_label) != F.col(query_label))
              .select(F.col(query_id), F.col(corpus_id),
                      cos(F.col(corpus_vec), F.col(query_vec))
                      .alias("cosine")))
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(),
                                             F.col(corpus_id).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, corpus_id,
                    F.col("rank").cast("long").alias("rank"),
                    F.round(F.col("cosine"), 6).alias("cosine")))


def label_positives(corpus: DataFrame,
                    queries: DataFrame,
                    k: int = 5,
                    corpus_id: str = "vec_id",
                    corpus_vec: str = "embedding",
                    corpus_label: str = "label",
                    query_id: str = "query_id",
                    query_vec: str = "query_vec",
                    query_label: str = "query_label") -> DataFrame:
    """Same-label nearest neighbors per anchor, excluding the anchor
    row itself — the positive side of triplet mining (mirror of
    `hard_negatives`; same broadcast/filter-before-score/
    WindowGroupLimit shape)."""
    cos = cosine_pairs_udf()
    q = queries.select(F.col(query_id), F.col(query_vec),
                       F.col(query_label))
    scored = (corpus.select(F.col(corpus_id), F.col(corpus_vec),
                            F.col(corpus_label))
              .crossJoin(F.broadcast(q))
              .filter((F.col(corpus_label) == F.col(query_label))
                      & (F.col(corpus_id) != F.col(query_id)))
              .select(F.col(query_id), F.col(corpus_id),
                      cos(F.col(corpus_vec), F.col(query_vec))
                      .alias("cosine")))
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(),
                                             F.col(corpus_id).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, corpus_id,
                    F.col("rank").cast("long").alias("rank"),
                    F.round(F.col("cosine"), 6).alias("cosine")))


def mine_triplets(corpus: DataFrame,
                  queries: DataFrame,
                  k: int = 3,
                  **kw) -> DataFrame:
    """(anchor, positive, hard negative) rows for triplet-loss
    training: rank-r positive paired with rank-r hard negative, with
    the margin (pos_cos - neg_cos) the loss will see. Both sides are
    label-filtered broadcast top-k plans; the pairing join is on
    (anchor, rank) — n_anchors x k rows, trivially broadcastable.
    Returns (query_id, rank, pos_id, neg_id, margin)."""
    qid = kw.get("query_id", "query_id")
    pos = (label_positives(corpus, queries, k, **kw)
           .select(F.col(qid), F.col("rank"),
                   F.col(kw.get("corpus_id", "vec_id")).alias("pos_id"),
                   F.col("cosine").alias("_pc")))
    neg = (hard_negatives(corpus, queries, k, **kw)
           .select(F.col(qid), F.col("rank"),
                   F.col(kw.get("corpus_id", "vec_id")).alias("neg_id"),
                   F.col("cosine").alias("_nc")))
    return (pos.join(neg, [qid, "rank"])
            .select(qid, "rank", "pos_id", "neg_id",
                    F.round(F.col("_pc") - F.col("_nc"), 6)
                    .alias("margin")))


def mmr_rerank(corpus: DataFrame,
               queries: DataFrame,
               k: int = 5,
               shortlist: int = 20,
               lam: float = 0.5,
               corpus_id: str = "vec_id",
               corpus_vec: str = "embedding",
               query_id: str = "query_id",
               query_vec: str = "query_vec") -> DataFrame:
    """Maximal Marginal Relevance diversified re-rank: greedily pick k
    of the `shortlist` exact-cosine candidates per query, each step
    maximizing ``lam * relevance - (1 - lam) * max_sim_to_selected`` —
    the standard anti-redundancy re-rank for RAG context assembly.

    Scale shape: all greedy state lives in tables bounded by
    n_queries x shortlist (candidates) and n_queries x shortlist^2
    (pairwise sims) — independent of corpus size once the shortlist
    stage ran; the k-1 greedy steps are driver-composed joins over
    those tiny tables (AQE broadcasts them). Determinism: relevance
    and pairwise sims are rounded to 6dp before scoring, lam enters as
    an exact literal, ties break to the lowest candidate id — the
    greedy trace is engine-portable (unrolled-CTE SQL oracle).
    Returns (query_id, vec_id, mmr_rank, relevance)."""
    rel = (cosine_topk(corpus, queries, shortlist, corpus_id, corpus_vec,
                       query_id, query_vec)
           .select(F.col(query_id), F.col(corpus_id),
                   F.col("cosine").alias("rel")))
    withv = rel.join(corpus.select(F.col(corpus_id), F.col(corpus_vec)),
                     corpus_id).localCheckpoint()
    a = withv.select(F.col(query_id), F.col(corpus_id).alias("_a"),
                     F.col(corpus_vec).alias("_va"))
    b = withv.select(F.col(query_id), F.col(corpus_id).alias("_b"),
                     F.col(corpus_vec).alias("_vb"))
    sim = (a.join(b, query_id)
           .filter(F.col("_a") != F.col("_b"))
           .select(F.col(query_id), "_a", "_b",
                   F.round(cosine_expr(F.col("_va"), F.col("_vb")), 6)
                   .alias("_s"))
           .localCheckpoint())
    cand = withv.select(F.col(query_id), F.col(corpus_id), "rel")

    w = Window.partitionBy(query_id).orderBy(F.col("rel").desc(),
                                             F.col(corpus_id).asc())
    selected = (cand.withColumn("_r", F.row_number().over(w))
                .filter(F.col("_r") == 1)
                .select(F.col(query_id), F.col(corpus_id),
                        F.lit(1).cast("long").alias("mmr_rank"),
                        F.col("rel")))
    for step in range(2, k + 1):
        remaining = cand.join(
            selected.select(F.col(query_id), F.col(corpus_id)),
            [query_id, corpus_id], "left_anti")
        pen = (remaining
               .join(sim.withColumnRenamed("_a", corpus_id),
                     [query_id, corpus_id])
               .join(selected.select(F.col(query_id),
                                     F.col(corpus_id).alias("_b")),
                     [query_id, "_b"])
               .groupBy(query_id, corpus_id, "rel")
               .agg(F.max("_s").alias("_pen")))
        scored = pen.withColumn(
            "_score", F.lit(float(lam)) * F.col("rel")
            - F.lit(float(1.0 - lam)) * F.col("_pen"))
        ws = Window.partitionBy(query_id).orderBy(
            F.col("_score").desc(), F.col(corpus_id).asc())
        pick = (scored.withColumn("_r", F.row_number().over(ws))
                .filter(F.col("_r") == 1)
                .select(F.col(query_id), F.col(corpus_id),
                        F.lit(step).cast("long").alias("mmr_rank"),
                        F.col("rel")))
        selected = selected.unionByName(pick).localCheckpoint()
    return selected.select(query_id, corpus_id, "mmr_rank",
                           F.col("rel").alias("relevance"))


def build_ann_index(corpus: DataFrame,
                    store_name: str,
                    num_cells: int = 8,
                    m: int = 4,
                    ksub: int = 16,
                    corpus_id: str = "vec_id",
                    corpus_vec: str = "embedding",
                    seed: int = 7,
                    centroids: Optional["np.ndarray"] = None,
                    codebooks: Optional["np.ndarray"] = None,
                    sample_size: int = 10_000,
                    mode: str = "overwrite",
                    prov: tuple[str, int] | None = None) -> None:
    """Persist an IVF-PQ vector index — the ANN member of the bucketed/
    partitioned incremental-store family, and the vector-database-on-
    Spark shape: the corpus is encoded ONCE (cell assignment + m-byte
    PQ codes, one Arrow pass) into ``{store}_codes`` PARTITIONED BY
    cell, so a search at nprobe cells prunes the scan to
    nprobe/num_cells of the files (PartitionFilters, pinned) — the IVF
    property realized as partition pruning instead of an in-query
    filter. Quantizer models persist alongside (``{store}_centroids``,
    ``{store}_codebooks``, ``{store}_meta``) so searches can never
    silently encode differently from the index.

    Quantizers train on the same deterministic sample as `ivf_pq_topk`
    (pass ``centroids``/``codebooks`` to reuse offline models);
    `ann_search_from_index` returns exactly `ivf_pq_topk`'s results
    for the same models (equality-pinned).

    ``mode='append'`` adds a vector increment to an existing index:
    the PERSISTED models are loaded and reused (training is skipped —
    retraining would silently re-shard the existing codes), and the
    new codes land in their cell partitions."""
    from pipelinedp_spark import store
    spark = corpus.sparkSession
    meta = store.begin_build(
        spark, store_name, mode,
        ("_codes", "_centroids", "_codebooks", "_meta"))
    if meta is not None:
        m_, ksub_, sub = (int(meta["m"]), int(meta["ksub"]),
                          int(meta["subdim"]))
        cts = np.array([r["cv"] for r in
                        spark.table(f"{store_name}_centroids")
                        .orderBy("cell").collect()], dtype="float64")
        cb = np.array([r["c"] for r in
                       spark.table(f"{store_name}_codebooks")
                       .orderBy("sub", "idx").collect()],
                      dtype="float64").reshape(m_, ksub_, sub)
    else:
        if centroids is None or codebooks is None:
            x = sample_corpus_matrix(corpus, corpus_id, corpus_vec,
                                     sample_size)
            if centroids is None:
                centroids = train_ivf_centroids(x, num_cells, seed)
            if codebooks is None:
                codebooks = train_pq_codebooks(x, m, ksub, seed)
        cts = np.asarray(centroids, dtype="float64")
        cb = np.asarray(codebooks, dtype="float64")
        m_, ksub_, sub = cb.shape

    @pandas_udf("int")
    def _cell(vec: pd.Series) -> pd.Series:
        if len(vec) == 0:
            return pd.Series([], dtype="int32")
        v = np.stack(vec.to_numpy()).astype("float64")
        v = v / np.maximum(np.linalg.norm(v, axis=1, keepdims=True),
                           1e-12)
        return pd.Series((v @ cts.T).argmax(axis=1).astype("int32"))

    @pandas_udf("array<int>")
    def _encode(vec: pd.Series) -> pd.Series:
        if len(vec) == 0:
            return pd.Series([], dtype="object")
        v = np.stack(vec.to_numpy()).astype("float64")
        codes = np.empty((len(v), m_), dtype="int32")
        for j in range(m_):
            vs = v[:, j * sub:(j + 1) * sub]
            d = ((vs * vs).sum(axis=1, keepdims=True)
                 - 2.0 * vs @ cb[j].T
                 + (cb[j] * cb[j]).sum(axis=1)[None, :])
            codes[:, j] = d.argmin(axis=1)
        return pd.Series(list(codes))

    coded = corpus.select(
        F.col(corpus_id).alias("id"),
        _cell(F.col(corpus_vec)).alias("cell"),
        _encode(F.col(corpus_vec)).alias("codes"))
    # provenance stamps (see build_bm25_index): a guarded streaming
    # append marks its code rows so a crash between apply and
    # ingest-log write rolls back convergently — a half-applied
    # batch's duplicate ids would otherwise eat top-k slots until
    # compaction.
    if mode != "append" or store.table_has_prov(
            spark, f"{store_name}_codes"):
        rid, bid = prov if prov is not None else (None, None)
        coded = store.with_prov(coded, rid, bid)
    (coded.write.mode(mode).format("parquet")
     .partitionBy("cell").saveAsTable(f"{store_name}_codes"))
    if mode == "append":
        return
    spark.createDataFrame(
        [(int(i), [float(x) for x in cts[i]]) for i in range(len(cts))],
        "cell int, cv array<double>") \
        .write.mode("overwrite").format("parquet") \
        .saveAsTable(f"{store_name}_centroids")
    spark.createDataFrame(
        [(int(j), int(i), [float(x) for x in cb[j, i]])
         for j in range(m_) for i in range(ksub_)],
        "sub int, idx int, c array<double>") \
        .write.mode("overwrite").format("parquet") \
        .saveAsTable(f"{store_name}_codebooks")
    # ts_num_buckets: bucket count for the (id-keyed) tombstone table
    # only — the codes table itself is cell-PARTITIONED, not bucketed,
    # so unlike the other store kinds this knob doesn't describe the
    # index layout; it's persisted so takedowns across sessions append
    # bucket-aligned instead of hardcoding a constant.
    store.write_meta(spark, store_name, num_cells=int(len(cts)),
                     m=int(m_), ksub=int(ksub_), subdim=int(sub),
                     ts_num_buckets=4)


def ann_search_from_index(queries: DataFrame,
                          store_name: str,
                          k: int = 10,
                          nprobe: int = 2,
                          query_id: str = "query_id",
                          query_vec: str = "query_vec",
                          corpus_id: str = "vec_id") -> DataFrame:
    """IVF-PQ search served from a persisted `build_ann_index` store:
    the query's nprobe cells become an IN-list PARTITION filter on the
    codes table (only nprobe/num_cells of the index files are read —
    PartitionFilters pinned), queries broadcast into the pruned scan,
    and ADC scoring/ranking/tie-breaks are identical to `ivf_pq_topk`
    (equality-pinned). The corpus is never re-encoded.
    Returns (query_id, corpus_id, rank, adist)."""
    spark = queries.sparkSession
    meta = store.read_meta(spark, store_name)
    m_, ksub_, sub = int(meta["m"]), int(meta["ksub"]), \
        int(meta["subdim"])
    cts_rows = spark.table(f"{store_name}_centroids") \
        .orderBy("cell").collect()
    cts = np.array([r["cv"] for r in cts_rows], dtype="float64")
    cb_rows = spark.table(f"{store_name}_codebooks") \
        .orderBy("sub", "idx").collect()
    cb = np.array([r["c"] for r in cb_rows],
                  dtype="float64").reshape(m_, ksub_, sub)

    @pandas_udf("array<int>")
    def _qcells(vec: pd.Series) -> pd.Series:
        if len(vec) == 0:
            return pd.Series([], dtype="object")
        v = np.stack(vec.to_numpy()).astype("float64")
        v = v / np.maximum(np.linalg.norm(v, axis=1, keepdims=True),
                           1e-12)
        order = np.argsort(-(v @ cts.T), axis=1)[:, :nprobe].astype(
            "int32")
        return pd.Series(list(order))

    @pandas_udf("double")
    def _adc(codes: pd.Series, qv: pd.Series) -> pd.Series:
        if len(codes) == 0:
            return pd.Series([], dtype="float64")
        q = np.stack(qv.to_numpy()).astype("float64")
        c = np.stack(codes.to_numpy()).astype("int64")
        out = np.zeros(len(c))
        uniq, inv = np.unique(q, axis=0, return_inverse=True)
        for ui, qrow in enumerate(uniq):
            tbl = np.empty((m_, ksub_))
            for j in range(m_):
                qs = qrow[j * sub:(j + 1) * sub]
                tbl[j] = ((qs * qs).sum() - 2.0 * cb[j] @ qs
                          + (cb[j] * cb[j]).sum(axis=1))
            mask = inv == ui
            out[mask] = tbl[np.arange(m_)[None, :], c[mask]].sum(axis=1)
        return pd.Series(out)

    q = (queries.select(F.col(query_id), F.col(query_vec),
                        F.explode(_qcells(F.col(query_vec)))
                        .alias("cell"))
         .localCheckpoint())
    probe = sorted({r["cell"] for r in q.select("cell")
                    .distinct().collect()})
    codes = spark.table(f"{store_name}_codes") \
        .filter(F.col("cell").isin(probe))
    # Logical takedowns (`remove_from_ann_index`): tombstoned vectors
    # drop via an anti-join on the already-pruned scan (broadcast only
    # while the tombstone table is small — store.tombstones guards the
    # hint); `store.compact` applies them physically.
    from pipelinedp_spark import store as _store
    ts = _store.tombstones(spark, store_name)
    if ts is not None:
        codes = codes.join(ts, "id", "left_anti")
    scored = codes.join(F.broadcast(q), "cell").select(
        F.col(query_id), F.col("id").alias(corpus_id),
        _adc(F.col("codes"), F.col(query_vec)).alias("adist"))
    w = Window.partitionBy(query_id).orderBy(F.col("adist").asc(),
                                             F.col(corpus_id).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, corpus_id,
                    F.col("rank").cast("long").alias("rank"),
                    F.round(F.col("adist"), 6).alias("adist")))


def remove_from_ann_index(vec_ids: DataFrame,
                          store_name: str,
                          corpus_id: str = "vec_id") -> None:
    """Takedown from a persisted IVF-PQ index: the removed ids append
    to ``{store}_tombstones`` and every `ann_search_from_index` drops
    them with a broadcast anti-join on the partition-pruned scan —
    O(removed) bookkeeping, no rebuild, no model retraining (the
    quantizers are data-independent once trained). Idempotent
    (already-tombstoned ids are skipped). `store.compact(kind='ann')`
    applies tombstones physically (rewrites the codes table without
    them, cell partitioning preserved) and clears the table. Re-adding
    a removed id requires that compaction first."""
    m = store.read_meta(vec_ids.sparkSession, store_name)
    # Pre-ts_num_buckets metas fall back to the old constant 4 (the
    # tombstone join is a guarded broadcast anti-join, so the bucket
    # count is about append alignment, not join co-location).
    nbuck = (int(m["ts_num_buckets"])
             if "ts_num_buckets" in m.__fields__ else 4)
    store.add_tombstones(vec_ids.select(F.col(corpus_id).alias("id")),
                         store_name, "id", nbuck)
