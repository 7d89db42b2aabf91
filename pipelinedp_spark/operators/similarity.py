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
  beats them by ~2 orders of magnitude on 64-dim vectors. That per-row
  win has a fixed price: every Python-worker task pays ~0.2 s of CPU
  before its first row (PySpark's worker setup calls
  ``importlib.invalidate_caches()``, and under Python 3.11 each of ~16
  zipimporters then re-reads the directory of ``pyspark.zip``), so a
  UDF on a small input costs more than the work it does.
- IVF / PQ / IVF-PQ: one quantizer kernel, `_quantizer_udf`. The corpus
  side is one Arrow pass (nearest cell and PQ codes); the query side is
  one Arrow pass (probe cells and the flattened m x ksub ADC table); ADC
  scoring is a Catalyst expression of m array lookups (`_adc_expr`), so
  scoring runs no Python worker and every PQ scorer sums the same terms
  in the same order.

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
    return _top_k(scored, k, query_id, corpus_id, "cosine")


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


def _quantizer_udf(cts: Optional[np.ndarray], cb: Optional[np.ndarray],
                   nprobe: Optional[int] = None):
    """The IVF/PQ kernel as one Arrow-batched pass over a vector column,
    given centroids ``cts`` and/or PQ codebooks ``cb`` (closure-captured,
    a few KB).

    Corpus side (``nprobe`` None): struct(``cell`` int, the nearest
    cell; ``codes`` array<int>, the m PQ codes). Query side (``nprobe``
    given, 0 without centroids): struct(``cells`` array<int>, the
    ``nprobe`` nearest cells; ``tbl``
    array<double>, the flattened m x ksub ADC table, entry
    ``j * ksub + i`` = |q_j - cb[j, i]|^2). Fields of a model not given
    are left out. Distances use the identity a.a - 2 a.b + b.b, term
    order matching the SQL oracles. The helpers are nested so the
    closure pickles by value: the Python worker never imports this
    package."""
    query = nprobe is not None
    dim = cts.shape[1] if cts is not None else cb.shape[0] * cb.shape[2]
    fields = []
    if cts is not None:
        fields.append("cells array<int>" if query else "cell int")
    if cb is not None:
        fields.append("tbl array<double>" if query else "codes array<int>")

    def cell_sims(v):
        v = v / np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-12)
        return v @ cts.T

    def pq_codes(v):
        m, _, sub = cb.shape
        codes = np.empty((len(v), m), dtype="int32")
        for j in range(m):
            vs = v[:, j * sub:(j + 1) * sub]
            d = ((vs * vs).sum(axis=1, keepdims=True)
                 - 2.0 * vs @ cb[j].T
                 + (cb[j] * cb[j]).sum(axis=1)[None, :])
            codes[:, j] = d.argmin(axis=1)
        return codes

    def adc_table(q):
        m, ksub, sub = cb.shape
        tbl = np.empty((m, ksub))
        for j in range(m):
            qs = q[j * sub:(j + 1) * sub]
            tbl[j] = ((qs * qs).sum() - 2.0 * cb[j] @ qs
                      + (cb[j] * cb[j]).sum(axis=1))
        return tbl.ravel()

    @pandas_udf(", ".join(fields))
    def _kernel(vec: pd.Series) -> pd.DataFrame:
        v = (np.stack(vec.to_numpy()).astype("float64") if len(vec)
             else np.empty((0, dim)))
        out = {}
        if cts is not None:
            sims = cell_sims(v)
            if query:
                out["cells"] = list(np.argsort(-sims, axis=1)
                                    [:, :nprobe].astype("int32"))
            else:
                out["cell"] = sims.argmax(axis=1).astype("int32")
        if cb is not None:
            if query:
                out["tbl"] = [adc_table(q) for q in v]
            else:
                out["codes"] = list(pq_codes(v))
        return pd.DataFrame(out)

    # Nondeterministic only to the optimizer: a join on the cell infers
    # isnotnull(cell), and pushed below the projection that filter would
    # run the kernel a second time.
    return _kernel.asNondeterministic()


def _adc_expr(codes: Column, tbl: Column, m: int, ksub: int) -> Column:
    """Asymmetric (ADC) distance of a coded vector to a query as a
    Catalyst expression: ``sum_j tbl[j * ksub + codes[j]]`` over a
    query's flattened table, summed left to right in j order. Every PQ
    scorer (`pq_topk`, `ivf_pq_topk`, `ann_search_from_index`) sums
    through it, so they agree bit for bit; for m < 8 it is also
    bit-identical to numpy's row sum of the gathered table (numpy sums
    rows of 8 or more pairwise)."""
    out = None
    for j in range(m):
        t = F.element_at(tbl, codes[j] + (j * ksub + 1))
        out = t if out is None else out + t
    return out


def _top_k(scored: DataFrame, k: int, query_id: str, corpus_id: str,
           score: str, ascending: bool = False) -> DataFrame:
    """Rank ``scored`` per query by ``score`` (ties to the lower corpus
    id) and keep the top ``k``, score rounded to 6 dp."""
    order = F.col(score).asc() if ascending else F.col(score).desc()
    w = Window.partitionBy(query_id).orderBy(order, F.col(corpus_id).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, corpus_id, "rank",
                    F.round(F.col(score), 6).alias(score)))


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

    cts = np.asarray(centroids, dtype="float64")
    cos = cosine_pairs_udf()
    c = corpus.select(
        F.col(corpus_id), F.col(corpus_vec),
        _quantizer_udf(cts, None)(F.col(corpus_vec))["cell"].alias("cell"))
    q = queries.select(
        F.col(query_id), F.col(query_vec),
        F.explode(_quantizer_udf(cts, None, nprobe)(F.col(query_vec))
                  ["cells"]).alias("cell"))
    scored = c.join(F.broadcast(q), "cell").select(
        F.col(query_id), F.col(corpus_id),
        cos(F.col(corpus_vec), F.col(query_vec)).alias("cosine"))
    return _top_k(scored, k, query_id, corpus_id, "cosine")


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
    return _top_k(scored, k, query_id, corpus_id, "cosine")


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
    coded = corpus.select(
        F.col(corpus_id),
        _quantizer_udf(None, cb)(F.col(corpus_vec))["codes"]
        .alias("__codes__"))
    q = queries.select(
        F.col(query_id),
        _quantizer_udf(None, cb, 0)(F.col(query_vec))["tbl"]
        .alias("__tbl__"))
    return _adc_topk(coded, q, cb, k, query_id, corpus_id, "__codes__")


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
    coded = corpus.select(
        F.col(corpus_id),
        _quantizer_udf(cts, cb)(F.col(corpus_vec)).alias("__e__")) \
        .select(corpus_id, "__e__.cell", F.col("__e__.codes")
                .alias("__codes__"))
    return _adc_topk(coded, _probe_queries(queries, cts, cb, nprobe,
                                          query_id, query_vec),
                     cb, k, query_id, corpus_id, "__codes__", "cell")


def _probe_queries(queries: DataFrame, cts: np.ndarray, cb: np.ndarray,
                   nprobe: int, query_id: str, query_vec: str) -> DataFrame:
    """The query side of IVF-PQ search, one Arrow pass: a row per (query,
    probe cell) carrying the query's ADC table as ``__tbl__``."""
    return (queries.select(F.col(query_id), _quantizer_udf(cts, cb, nprobe)(
                F.col(query_vec)).alias("__q__"))
            .select(F.col(query_id), F.explode("__q__.cells").alias("cell"),
                    F.col("__q__.tbl").alias("__tbl__")))


def _adc_topk(coded: DataFrame, q: DataFrame, cb: np.ndarray, k: int,
              query_id: str, corpus_id: str, codes_col: str,
              on: Optional[str] = None) -> DataFrame:
    """Score coded rows against the broadcast query tables ``q`` with
    `_adc_expr` (pairs joined on ``on``; every pair when None) and keep
    each query's top ``k`` by (adist, id). Returns (query_id, corpus_id,
    rank, adist)."""
    scored = coded.join(F.broadcast(q), on).select(
        F.col(query_id), F.col(corpus_id),
        _adc_expr(F.col(codes_col), F.col("__tbl__"), cb.shape[0],
                 cb.shape[1]).alias("adist"))
    return _top_k(scored, k, query_id, corpus_id, "adist", ascending=True)


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
    return _top_k(scored, k, query_id, corpus_id, "cosine")


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
    return _top_k(scored, k, query_id, corpus_id, "cosine") \
        .withColumn("rank", F.col("rank").cast("long"))


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
    return _top_k(scored, k, query_id, corpus_id, "cosine") \
        .withColumn("rank", F.col("rank").cast("long"))


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
    spark = corpus.sparkSession
    meta = store.begin_build(
        spark, store_name, mode,
        ("_codes", "_centroids", "_codebooks", "_meta"))
    if meta is not None:
        cts, cb = _read_models(spark, store_name, meta)
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
    coded = corpus.select(
        F.col(corpus_id).alias("id"),
        _quantizer_udf(cts, cb)(F.col(corpus_vec)).alias("__e__")) \
        .select("id", "__e__.cell", "__e__.codes")
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
    cts, cb = _read_models(spark, store_name,
                           store.read_meta(spark, store_name))
    q = _probe_queries(queries, cts, cb, nprobe, query_id,
                       query_vec).localCheckpoint()
    # (query, cell) rows are few: dedup on the driver (a distinct()
    # would add a shuffle job)
    probe = sorted({r["cell"] for r in q.select("cell").collect()})
    codes = spark.table(f"{store_name}_codes") \
        .filter(F.col("cell").isin(probe))
    # Logical takedowns (`remove_from_ann_index`): tombstoned vectors
    # drop via an anti-join on the already-pruned scan (broadcast only
    # while the tombstone table is small — store.tombstones guards the
    # hint); `store.compact` applies them physically.
    ts = store.tombstones(spark, store_name)
    if ts is not None:
        codes = codes.join(ts, "id", "left_anti")
    return _adc_topk(codes.withColumnRenamed("id", corpus_id), q, cb, k,
                     query_id, corpus_id, "codes", "cell") \
        .withColumn("rank", F.col("rank").cast("long"))


def _read_models(spark, store_name: str, meta) -> tuple:
    """The persisted quantizers of an ANN store, (centroids (cells, dim),
    codebooks (m, ksub, subdim)), read on the driver by
    `store.read_small_table` and ordered by cell / (sub, idx) there."""
    _, rows = store.read_small_table(spark, f"{store_name}_centroids")
    cts = np.array([r["cv"] for r in sorted(rows, key=lambda r: r["cell"])],
                   dtype="float64")
    _, rows = store.read_small_table(spark, f"{store_name}_codebooks")
    rows.sort(key=lambda r: (r["sub"], r["idx"]))
    cb = np.array([r["c"] for r in rows], dtype="float64").reshape(
        int(meta["m"]), int(meta["ksub"]), int(meta["subdim"]))
    return cts, cb


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
