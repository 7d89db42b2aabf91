"""Sparse lexical retrieval over the corpus: TF-IDF statistics and BM25
top-k — the inverted-index workload of a training-data pipeline (mining
domain-relevant documents, building eval/retrieval sets, kNN-LM style
lookups) expressed as pure DataFrame aggregations.

BM25 (Robertson-Sparck Jones; the +1 idf form Lucene uses, so idf is
never negative):

    idf(t)      = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
    score(q, d) = sum_{t in q} idf(t) * tf_td * (k1 + 1)
                  / (tf_td + k1 * (1 - b + b * dl_d / avgdl))

Scale shape: term frequencies are ONE explode + ONE map-side-combinable
groupBy over (doc, term) — the word-count plan; document frequencies
aggregate off the tf table (no second corpus scan); the postings join
hits ONLY the query terms (broadcast — a query set is tiny next to the
corpus), so corpus-scale work is proportional to the postings of the
queried terms, exactly like serving from an inverted index. Scoring is
native Column arithmetic (whole-stage codegen), top-k is a per-query
WindowGroupLimit. N and total token count are two driver scalars from
one tiny agg — injected as literals so a SQL oracle can bit-match.

No reference counterpart (net-new LLM-pipeline operator; reference repo
= OpenMined/PipelineDP).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pipelinedp_spark.functions import text as T
from pipelinedp_spark import store


def term_frequencies(docs: DataFrame,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """(id_col, term, tf) — one explode + one combinable groupBy."""
    return (docs.select(F.col(id_col),
                        F.explode(T.tokens(F.col(text_col))).alias("term"))
            .groupBy(id_col, "term")
            .agg(F.count(F.lit(1)).alias("tf")))


def doc_lengths(tf: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id_col, dl) token counts derived from the tf table (no rescan)."""
    return tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))


def bm25_topk(docs: DataFrame,
              queries: DataFrame,
              k: int = 10,
              k1: float = 1.2,
              b: float = 0.75,
              text_col: str = "text",
              id_col: str = "doc_id",
              query_id: str = "query_id",
              query_text: str = "query_text") -> DataFrame:
    """Top-k BM25 documents per query.

    ``queries`` is a small (query_id, query_text) frame; its distinct
    whitespace terms are what gets scored (classic bag-of-words BM25 —
    repeated query terms don't double-count). Returns
    (query_id, id_col, rank, score) with score rounded to 6dp and rank
    tie-broken by ascending doc id.

    The tf table is materialized once (`localCheckpoint`) — it feeds
    doc lengths, the corpus stats, document frequencies, AND the
    postings join, which otherwise re-explodes the corpus four times.
    At production scale you persist it offline: it IS the inverted
    index.
    """
    tf = term_frequencies(docs, text_col, id_col).localCheckpoint()
    dl = doc_lengths(tf, id_col)
    # Two exact driver scalars (N docs, total tokens) from one tiny agg;
    # avgdl is computed once in Python and injected as a literal so an
    # external oracle can reproduce the float bit-for-bit.
    stats = dl.agg(F.count(F.lit(1)).alias("n"),
                   F.sum("dl").alias("tot")).collect()[0]
    n_docs, avgdl = int(stats["n"]), float(stats["tot"]) / float(stats["n"])

    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    qterms = queries.select(
        F.col(query_id),
        F.explode(F.array_distinct(T.tokens(F.col(query_text))))
        .alias("term"))

    idf = F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    tf_part = (F.col("tf") * (k1 + 1)
               / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / avgdl)))

    postings = (tf.join(F.broadcast(qterms), "term")
                .join(F.broadcast(df_t.join(qterms.select("term")
                                            .distinct(), "term")), "term")
                .join(dl, id_col))
    scored = (postings
              .groupBy(query_id, id_col)
              .agg(F.sum(idf * tf_part).alias("score")))
    w = Window.partitionBy(query_id).orderBy(F.col("score").desc(),
                                             F.col(id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, id_col,
                    F.col("rank").cast("long").alias("rank"),
                    F.round(F.col("score"), 6).alias("score")))


def tfidf_keywords(docs: DataFrame,
                   text_col: str = "text",
                   id_col: str = "doc_id",
                   k: int = 5,
                   min_df: int = 1) -> DataFrame:
    """Top-k TF-IDF keywords per document: score = tf * ln(N / df_t),
    terms with df_t < ``min_df`` dropped. Returns (id_col, term, rank,
    score 6dp) with rank 1..k ordered by (raw score desc, term asc) —
    raw doubles are engine-portable (integer tf/N/df through ln), so
    the order is deterministic across engines.

    Scale shape: ONE corpus explode into the shared word-count plan
    (`term_frequencies`), document frequencies off the tf table (no
    rescan), N is one driver scalar, idf arithmetic is codegen, and the
    top-k is a per-doc WindowGroupLimit (partitioned by doc — no hot
    key: a doc's term set is bounded by the doc itself). The tf table
    is localCheckpoint'd: it feeds BOTH the df aggregation and the
    scoring join, and without the materialization each consumer re-ran
    the full explode+count subplan (measured 6x at the sf1 step; same
    lesson as multimodal's shared hash table).
    """
    tf = term_frequencies(docs, text_col, id_col).localCheckpoint()
    n_docs = docs.select(id_col).distinct().count()
    df_t = (tf.groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") >= min_df))
    scored = (tf.join(df_t, "term")
              .withColumn("score",
                          F.col("tf")
                          * F.log(F.lit(float(n_docs)) / F.col("df"))))
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(),
                                           F.col("term").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(F.col(id_col), "term",
                    F.col("rank").cast("long").alias("rank"),
                    F.round(F.col("score"), 6).alias("score")))


def pmi_collocations(docs: DataFrame,
                     text_col: str = "text",
                     id_col: str = "doc_id",
                     k: int = 50,
                     min_count: int = 5) -> DataFrame:
    """Top-k corpus collocations by pointwise mutual information over
    adjacent word pairs: pmi(x, y) = ln(c_xy * T / (c_x * c_y)) with T
    the total bigram count; pairs seen < ``min_count`` times dropped.
    Returns (gram, c 6dp-exact long, pmi 6dp) ordered by (raw pmi desc,
    gram asc) — all-integer counts through ln keep the order
    engine-portable.

    Scale shape: one explode for bigrams + one for unigrams (both
    word-count plans), the unigram table joins the bigram table TWICE
    (left word, right word) — both joins are on the unigram table,
    which is vocabulary-sized (AQE broadcasts it for real corpora);
    T is one driver scalar off the aggregated bigram table; the global
    top-k is a sort of the min_count-filtered survivors, LIMIT k.
    """
    t = T.tokens(F.col(text_col))
    n = F.size(t)
    left = F.slice(t, 1, F.greatest(n - 1, F.lit(0)))
    right = F.slice(t, 2, F.greatest(n - 1, F.lit(0)))
    pairs = docs.select(
        F.posexplode(F.arrays_zip(left.alias("x"), right.alias("y")))
        .alias("_p", "pair")).select(
        F.col("pair.x").alias("x"), F.col("pair.y").alias("y"))
    big = pairs.groupBy("x", "y").agg(F.count(F.lit(1)).alias("c"))
    uni = (docs.select(F.explode(t).alias("w"))
           .groupBy("w").agg(F.count(F.lit(1)).alias("cw")))
    total = big.agg(F.sum("c")).collect()[0][0] or 0
    scored = (big.filter(F.col("c") >= min_count)
              .join(uni.withColumnRenamed("w", "x")
                    .withColumnRenamed("cw", "cx"), "x")
              .join(uni.withColumnRenamed("w", "y")
                    .withColumnRenamed("cw", "cy"), "y")
              .withColumn("pmi",
                          F.log(F.col("c").cast("double")
                                * F.lit(float(total))
                                / (F.col("cx") * F.col("cy")))))
    return (scored
            .orderBy(F.col("pmi").desc(), F.concat_ws(" ", "x", "y").asc())
            .limit(k)
            .select(F.concat_ws(" ", "x", "y").alias("gram"),
                    F.col("c").cast("long").alias("c"),
                    F.round("pmi", 6).alias("pmi")))


def textrank_keywords(docs: DataFrame,
                      text_col: str = "text",
                      iters: int = 3,
                      k: int = 20,
                      min_count: int = 2,
                      scale: int = 1_000_000,
                      d_pct: int = 85,
                      checkpoint: bool = True) -> DataFrame:
    """Corpus-level TextRank (Mihalcea & Tarau 2004): PageRank over the
    undirected adjacent-word graph picks the structurally central
    vocabulary — the graph-based complement to `tfidf_keywords`.

    Deterministic integer variant: ranks live in `scale` micro-units
    and every update is exact integer arithmetic —
    ``r'(w) = (1-d)*scale + (d_pct * inflow(w)) DIV 100`` with
    ``inflow(w) = sum over edges (r(v) * cnt(v,w)) DIV outw(v)`` —
    so the iteration is bit-reproducible across partition layouts and
    unrolls into an integer-DIV SQL oracle (the Lloyd-unroll
    discipline; floor losses vs float PageRank are bounded by one
    micro-unit per edge and documented as the variant's definition).

    Scale shape: the graph build is one explode into the bigram
    word-count plan; per iteration, one join of the rank table
    (vocabulary-sized — AQE broadcasts it) to the edge table + one
    map-side-combinable groupBy; the edge table is localCheckpoint'd
    once (it feeds every iteration). Top-k compiles to
    TakeOrderedAndProject. Returns (word, rank) — rank in micro-units.
    """
    t = T.tokens(F.col(text_col))
    n = F.size(t)
    pairs = F.when(
        n >= 2,
        F.zip_with(F.slice(t, 1, n - 1), F.slice(t, 2, n - 1),
                   lambda a, b: F.struct(a.alias("a"), b.alias("b")))
    ).otherwise(F.array())
    bi = (docs.select(F.explode(pairs).alias("p"))
          .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
          .groupBy("a", "b")
          .agg(F.count(F.lit(1)).alias("cnt"))
          .filter(F.col("cnt") >= min_count))
    und = (bi.select(F.col("a").alias("v"), F.col("b").alias("w"), "cnt")
           .unionByName(
               bi.select(F.col("b").alias("v"), F.col("a").alias("w"),
                         "cnt"))
           .groupBy("v", "w")
           .agg(F.sum("cnt").alias("cnt")))
    outw = und.groupBy("v").agg(F.sum("cnt").alias("outw"))
    edges = und.join(outw, "v")
    if checkpoint:
        edges = edges.localCheckpoint()
    base = (scale * (100 - d_pct)) // 100
    rank = edges.select(F.col("v").alias("word")).distinct() \
        .withColumn("r", F.lit(int(scale)).cast("long"))
    for _ in range(iters):
        inflow = (edges.join(rank.withColumnRenamed("word", "v"), "v")
                  .groupBy(F.col("w").alias("word"))
                  .agg(F.sum(F.expr("r * cnt DIV outw")).alias("_in")))
        rank = inflow.select(
            "word",
            (F.lit(int(base))
             + F.expr(f"{d_pct} * _in DIV 100")).cast("long").alias("r"))
        if checkpoint:
            rank = rank.localCheckpoint()
    return (rank.orderBy(F.col("r").desc(), F.col("word").asc())
            .limit(k)
            .select("word", F.col("r").alias("rank")))


def rrf_fuse(rankings: "list[DataFrame]",
             k: int = 10,
             rrf_k: int = 60,
             query_col: str = "query_id",
             id_col: str = "doc_id",
             rank_col: str = "rank") -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009)
    of N per-query rankings — the standard hybrid-retrieval combiner
    (BM25 + dense ANN, or any ranker mix) because it needs no score
    calibration: fused(q, d) = sum over lists of 1 / (rrf_k + rank),
    a document missing from a list contributing 0.

    Plan: one unionByName of the (already top-k'd, so tiny relative to
    the corpus) rank tables, one map-side-combinable groupBy(query,
    doc), one per-query WindowGroupLimit for the final top-k — no
    corpus-scale work at all; the rankers did that. Ties break by
    ascending doc id. Returns (query_col, id_col, rank, rrf_score
    rounded 6dp, n_lists).

    Determinism note: each (query, doc) sums at most N=len(rankings)
    doubles; for the common N=2 the sum is order-independent
    bit-for-bit, and reciprocal gaps between distinct rank pairs are
    >= ~1e-4 at rrf_k=60 with ranks <= ~40 — far above the 6dp
    rounding, so an SQL oracle hash-matches exactly."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    uni = rankings[0].select(query_col, id_col, rank_col)
    for r in rankings[1:]:
        uni = uni.unionByName(r.select(query_col, id_col, rank_col))
    scored = (uni.groupBy(query_col, id_col)
              .agg(F.sum(F.lit(1.0) / (F.lit(float(rrf_k))
                                       + F.col(rank_col)))
                   .alias("__s__"),
                   F.count(F.lit(1)).alias("n_lists")))
    w = Window.partitionBy(query_col).orderBy(F.col("__s__").desc(),
                                              F.col(id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_col, id_col,
                    F.col("rank").cast("long").alias("rank"),
                    F.round(F.col("__s__"), 6).alias("rrf_score"),
                    F.col("n_lists").cast("long").alias("n_lists")))


def build_bm25_index(docs: DataFrame,
                     store_name: str,
                     text_col: str = "text",
                     id_col: str = "doc_id",
                     num_buckets: int = 8,
                     mode: str = "overwrite",
                     prov: tuple[str, int] | None = None) -> None:
    """Persist the corpus's BM25 inverted index as bucketed tables so
    queries never re-tokenize the corpus — the offline-index flow
    `bm25_topk`'s docstring promises:

    * ``{store}_postings`` (term, id, tf, dl) — the postings list with
      the doc length denormalized in (one fewer query-time join),
      bucketed AND sorted by term: the query-terms join streams only
      the touched buckets with zero Exchange on the index side.
    * ``{store}_terms`` (term, df) — document-frequency SEGMENTS, same
      bucketing. Each build/append writes its batch's df rows; readers
      sum df per term (merge-on-read, the Lucene-segment shape), so an
      append never rewrites the vocabulary table.
    * ``{store}_meta`` — (n_docs, total_dl, avgdl, num_buckets): the
      corpus scalars the score needs. ``total_dl`` is kept as an exact
      integer so appends refresh ``avgdl`` with the same arithmetic a
      from-scratch build uses (bit-identical scores).

    ``mode='append'`` ingests a document increment: postings and df
    deltas land bucket-aligned (cost proportional to the batch), and
    the meta scalars are recomputed from the stored exact totals — the
    staleness trap of frozen N/avgdl cannot occur. Callers must not
    re-append ids already in the store (same contract as
    `build_minhash_store`). An empty corpus builds an empty, queryable
    index (avgdl = 0.0).

    Build = the word-count shuffle paid once. Queries against a 100-TB
    corpus then cost only the postings of their terms — the serving
    shape of a real inverted index."""
    from pipelinedp_spark import store
    spark = docs.sparkSession
    m = store.begin_build(spark, store_name, mode,
                          ("_postings", "_terms", "_meta"))
    if m is not None:
        prev_n = int(m["n_docs"])
        prev_tot = (int(m["total_dl"]) if "total_dl" in m.__fields__
                    else int(round(float(m["avgdl"]) * prev_n)))
        num_buckets = int(m["num_buckets"])   # appends stay aligned
    else:
        prev_n = prev_tot = 0
    tf = term_frequencies(docs, text_col, id_col).localCheckpoint()
    dl = doc_lengths(tf, id_col)
    stats = dl.agg(F.count(F.lit(1)).alias("n"),
                   F.sum("dl").alias("tot")).collect()[0]
    n_docs = prev_n + int(stats["n"])
    total_dl = prev_tot + int(stats["tot"] or 0)
    avgdl = float(total_dl) / float(n_docs) if n_docs else 0.0
    post = (tf.join(dl, id_col)
            .select("term", F.col(id_col).alias("id"), "tf", "dl"))
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # provenance stamps: ``prov=(run_id, batch_id)`` marks a guarded
    # streaming append so `store.apply_batch_once` can roll the batch
    # back if the process dies before its ingest-log row lands —
    # BM25's tf/df/scalars are multiplicity-critical, so this is the
    # kind where the crash window actually corrupts. Unguarded builds
    # stamp NULLs; appends to a pre-r12 table (no stamp columns) stay
    # stamp-free and keep the documented window.
    if mode != "append" or store.table_has_prov(
            spark, f"{store_name}_postings"):
        rid, bid = prov if prov is not None else (None, None)
        post = store.with_prov(post, rid, bid)
        dft = store.with_prov(dft, rid, bid)
    store.write_bucketed(post, f"{store_name}_postings", "term",
                         num_buckets, mode)
    store.write_bucketed(dft, f"{store_name}_terms", "term",
                         num_buckets, mode)
    store.write_meta(spark, store_name, n_docs=int(n_docs),
                     total_dl=int(total_dl), avgdl=float(avgdl),
                     num_buckets=int(num_buckets))
    if mode == "append":
        store.refresh_store(spark, store_name,
                            ("_postings", "_terms", "_meta"))


def bm25_topk_from_index(queries: DataFrame,
                         store_name: str,
                         k: int = 10,
                         k1: float = 1.2,
                         b: float = 0.75,
                         id_col: str = "doc_id",
                         query_id: str = "query_id",
                         query_text: str = "query_text",
                         max_df_ratio: float | None = None) -> DataFrame:
    """`bm25_topk` semantics served from a persisted `build_bm25_index`
    store: the corpus is never re-tokenized; the query terms (a tiny
    broadcast) join the bucketed postings and term tables with zero
    Exchange on the index side, so per-query cost is proportional to
    the touched postings — identical scores, ranks, and tie-breaks to
    the from-scratch operator (pinned by equality test).

    The per-query-term df lookup happens BEFORE the postings join (the
    bucketed terms scan joins the broadcast query terms, and the tiny
    result broadcasts into the postings scan), which enables
    ``max_df_ratio``: the stopword guard of a production index. A
    query term present in more than ``max_df_ratio * n_docs`` documents
    drags a corpus-sized postings slice through the per-query
    aggregation while contributing near-zero idf — with the guard it is
    dropped before its postings are ever probed. Default None = score
    every term exactly (the oracle-checked mode)."""
    spark = queries.sparkSession
    m = store.read_meta(spark, store_name)
    n_docs, avgdl = int(m["n_docs"]), float(m["avgdl"])
    post = spark.table(f"{store_name}_postings")
    # Logical takedowns (`remove_from_bm25_index`): tombstoned docs'
    # postings drop via an anti-join (broadcast while the tombstone
    # table is small — the guarded hint lives in store.tombstones);
    # their df/scalar corrections already live in the terms segments
    # and meta.
    from pipelinedp_spark import store as _store
    ts = _store.tombstones(spark, store_name)
    if ts is not None:
        post = post.join(ts, "id", "left_anti")
    qterms = (queries.select(
        F.col(query_id),
        F.explode(F.array_distinct(T.tokens(F.col(query_text))))
        .alias("term")).localCheckpoint())
    # Index-style pruning (same design as ann_search_from_index's
    # collected probe cells): the distinct query-term list is tiny and
    # driver-known, so push it as an isin() LITERAL into both scans —
    # the terms and postings tables are bucketed AND sorted by term,
    # so parquet row-group min/max stats skip everything the queries
    # never touch. Without this, serving scans O(|vocab|) terms rows
    # and O(corpus) postings rows per query batch (a join cannot be
    # pushed below a scan or an aggregation; measured 3.6-5.6x per 10x
    # corpus decade on a unique-token corpus, ~1x after). Degenerate
    # mega-batches (> 10k distinct terms) skip the literal pushdown to
    # keep the plan small and fall back to the broadcast joins below.
    # probe with a LIMIT so a degenerate mega-batch never materializes
    # millions of terms on the driver just to learn it is over the cap;
    # the cap reads the session conf so the fallback branch is
    # testable at oracle-gate scale (and tunable per deployment)
    cap = int(spark.conf.get("spark.pipelinedp.bm25.termPushdownCap",
                             "10000"))
    terms_list = [r["term"] for r in
                  qterms.select("term").distinct().limit(cap + 1)
                  .collect()]
    if len(terms_list) <= cap:
        post = post.filter(F.col("term").isin(terms_list))
        terms_scan = (spark.table(f"{store_name}_terms")
                      .filter(F.col("term").isin(terms_list)))
    else:
        terms_scan = (spark.table(f"{store_name}_terms")
                      .join(F.broadcast(qterms.select("term")
                                        .distinct()), "term"))
    # The terms table holds one df SEGMENT per build/append (negative
    # segments for removals); sum per term on read. The segment sum
    # runs AFTER the pruning (aggregating first would hash-aggregate
    # the full vocabulary).
    dft = (terms_scan.groupBy("term").agg(F.sum("df").alias("df"))
           .filter(F.col("df") > 0))
    # (query_id, term, df): one row per query term — tiny by
    # construction, so it broadcasts into the postings scan.
    qt = dft.join(F.broadcast(qterms), "term")
    if max_df_ratio is not None:
        qt = qt.filter(F.col("df") <= float(max_df_ratio) * n_docs)
    idf = F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    tf_part = (F.col("tf") * (k1 + 1)
               / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / avgdl)))
    scored = (post.join(F.broadcast(qt), "term")
              .groupBy(query_id, "id")
              .agg(F.sum(idf * tf_part).alias("score")))
    w = Window.partitionBy(query_id).orderBy(F.col("score").desc(),
                                             F.col("id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, F.col("id").alias(id_col),
                    F.col("rank").cast("long").alias("rank"),
                    F.round(F.col("score"), 6).alias("score")))


def remove_from_bm25_index(doc_ids: DataFrame,
                           store_name: str,
                           id_col: str = "doc_id") -> None:
    """EXACT takedown from a persisted BM25 index — the
    right-to-be-forgotten / licensing-removal operation a production
    corpus index must support without a rebuild. Removal is logical
    and O(removed docs), not O(corpus):

    * the removed ids append to ``{store}_tombstones`` (bucketed by
      id); readers drop their postings with a broadcast anti-join —
      the postings table is never rewritten here;
    * the df decrement per term is computed FROM the removed postings
      rows themselves (one row per (term, id) — the count per term IS
      the df delta) and appended as a NEGATIVE df segment to
      ``{store}_terms``, so the segment-summing reader needs no new
      code path;
    * n_docs / total_dl corrections come from the removed docs'
      denormalized dl (exact integers), and meta rewrites with
      build-once arithmetic — served scores are bit-identical to an
      index built without the removed docs (oracle-checked).

    Idempotent: already-tombstoned ids are excluded before corrections
    are computed, so re-removing is a no-op (never double-subtracts).
    `store.compact(kind='bm25')` later applies tombstones physically
    (drops their postings rows, cancels the negative segments) and
    clears the tombstone table. Re-ADDING a removed id requires that
    compaction first — while its tombstone stands, the reader's
    anti-join would hide the re-appended postings too."""
    from pipelinedp_spark import store
    spark = doc_ids.sparkSession
    m = store.read_meta(spark, store_name)
    nbuck = int(m["num_buckets"])
    ids = doc_ids.select(F.col(id_col).alias("id")).distinct()
    ts_table = f"{store_name}_tombstones"
    if spark.catalog.tableExists(ts_table):
        ids = ids.join(spark.table(ts_table), "id", "left_anti")
    ids = ids.localCheckpoint()
    removed = (spark.table(f"{store_name}_postings")
               .join(F.broadcast(ids), "id").localCheckpoint())
    stats = (removed.select("id", "dl").distinct()
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum("dl").alias("tot")).collect()[0])
    # The three writes below are not atomic. Tombstones go FIRST so
    # every intermediate state is conservative: once they land, readers
    # already hide the removed docs' postings (the takedown is honored
    # immediately); a crash before the df-segment / meta corrections
    # leaves served idf slightly understated (df still counts hidden
    # docs) — never a resurrected document. Recovery from that window
    # is a rebuild or `store.compact` (NOT a re-run: the idempotency
    # anti-join above sees the tombstones and skips the corrections).
    # Takedowns are not batch-guarded, so the convergent recovery of
    # `store.ingest_batch_once` does not cover this window.
    store.write_bucketed(ids, ts_table, "id", nbuck, "append")
    neg = (removed.groupBy("term")
           .agg((-F.count(F.lit(1))).alias("df")))
    if store.table_has_prov(spark, f"{store_name}_terms"):
        neg = store.with_prov(neg)   # takedowns are not batch-guarded
    store.write_bucketed(neg, f"{store_name}_terms", "term", nbuck,
                         "append")
    prev_tot = (int(m["total_dl"]) if "total_dl" in m.__fields__
                else int(round(float(m["avgdl"]) * int(m["n_docs"]))))
    n_docs = int(m["n_docs"]) - int(stats["n"])
    total_dl = prev_tot - int(stats["tot"] or 0)
    avgdl = float(total_dl) / float(n_docs) if n_docs else 0.0
    store.write_meta(spark, store_name, n_docs=n_docs,
                     total_dl=total_dl, avgdl=float(avgdl),
                     num_buckets=nbuck)
    store.refresh_store(spark, store_name,
                        ("_postings", "_terms", "_meta", "_tombstones"))


def restore_bm25_meta(spark, store_name: str) -> None:
    """Recompute the ``{store}_meta`` scalars from the live postings —
    the invariant every build/append/takedown maintains is that
    ``n_docs`` / ``total_dl`` equal the distinct non-tombstoned doc
    count / summed doc length of the postings table (a doc with zero
    tokens never gets postings OR counts toward n_docs, and ``dl`` is
    denormalized per row, so both are exactly derivable). Used as the
    ``restore_fn`` of the exactly-once ingest guard: after a crashed
    half-applied batch's stamped rows are rolled back, the meta row
    (which the crashed attempt may or may not have rewritten) is put
    back in sync with the cleaned tables; and by `store.compact`,
    whose physical rewrite re-derives terms and meta from the
    surviving postings."""
    from pipelinedp_spark import store
    m = store.read_meta(spark, store_name)
    post = spark.table(f"{store_name}_postings")
    ts = store.tombstones(spark, store_name)
    if ts is not None:
        post = post.join(ts, "id", "left_anti")
    stats = (post.select("id", "dl").distinct()
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum("dl").alias("tot")).collect()[0])
    n_docs = int(stats["n"])
    total_dl = int(stats["tot"] or 0)
    avgdl = float(total_dl) / float(n_docs) if n_docs else 0.0
    store.write_meta(spark, store_name, n_docs=n_docs,
                     total_dl=total_dl, avgdl=float(avgdl),
                     num_buckets=int(m["num_buckets"]))
    spark.catalog.refreshTable(f"{store_name}_meta")
