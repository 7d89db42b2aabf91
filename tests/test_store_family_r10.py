"""Round-10 store-family tests: BM25 index append mode (scalar refresh,
df segment merge), compaction of the 'bm25'/'ann' kinds, and a planted
hot-bucket skew stress for the bucketed store joins.

Reference repo (OpenMined/PipelineDP) has no store/index counterpart —
these are net-new LLM-pipeline operators; tests follow the compaction
round-trip pattern of tests/test_plan_shapes_r9.py.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pipelinedp_spark import store

pytestmark = pytest.mark.store

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _drop(spark, *tables):
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


BM25_TABLES = ("_postings", "_terms", "_meta")


def _bm25_results(spark, store):
    from pipelinedp_spark.operators import retrieval
    q = spark.sql(
        "SELECT * FROM VALUES (0, 'hash join merge'), "
        "(1, 'scan filter column'), (2, 'adaptive shuffle') "
        "AS t(query_id, query_text)")
    return sorted(
        (r["query_id"], r["doc_id"], r["rank"], r["score"])
        for r in retrieval.bm25_topk_from_index(q, store, k=10).collect())


class TestBM25Append:
    def test_append_equals_build_once(self, spark):
        """Build from half the corpus, append the rest: scores, ranks
        and tie-breaks must equal the build-once index exactly —
        including the refreshed n_docs/avgdl scalars and df sums for
        terms spanning both halves."""
        from pipelinedp_spark.operators import retrieval

        docs = _docs(spark).limit(200)
        first = docs.filter(F.col("doc_id") % 2 == 0)
        second = docs.filter(F.col("doc_id") % 2 == 1)

        retrieval.build_bm25_index(docs, "r10bm_once", num_buckets=4)
        retrieval.build_bm25_index(first, "r10bm_inc", num_buckets=4)
        retrieval.build_bm25_index(second, "r10bm_inc", mode="append")
        try:
            once = _bm25_results(spark, "r10bm_once")
            inc = _bm25_results(spark, "r10bm_inc")
            assert once and once == inc
            m_once = spark.table("r10bm_once_meta").collect()[0]
            m_inc = spark.table("r10bm_inc_meta").collect()[0]
            assert m_once["n_docs"] == m_inc["n_docs"]
            assert m_once["total_dl"] == m_inc["total_dl"]
            assert m_once["avgdl"] == m_inc["avgdl"]
            # df segments: terms in both halves carry two rows that the
            # reader sums back to the build-once df
            seg = (spark.table("r10bm_inc_terms").groupBy("term")
                   .agg(F.sum("df").alias("df_seg")))
            whole = (spark.table("r10bm_once_terms")
                     .withColumnRenamed("df", "df_once"))
            mismatched = (seg.join(whole, "term", "full")
                          .filter(F.col("df_seg").isNull()
                                  | F.col("df_once").isNull()
                                  | (F.col("df_seg") != F.col("df_once"))))
            assert mismatched.count() == 0
        finally:
            _drop(spark, *(f"r10bm_once{s}" for s in BM25_TABLES),
                  *(f"r10bm_inc{s}" for s in BM25_TABLES))

    def test_append_respects_store_bucket_count(self, spark):
        """Append must inherit the store's bucket spec from meta even
        when the caller passes a different num_buckets."""
        from pipelinedp_spark.operators import retrieval

        docs = _docs(spark).limit(60)
        retrieval.build_bm25_index(docs.filter(F.col("doc_id") < 1000),
                                   "r10bm_bk", num_buckets=4)
        retrieval.build_bm25_index(docs.filter(F.col("doc_id") >= 1000),
                                   "r10bm_bk", num_buckets=16,
                                   mode="append")
        try:
            ddl = spark.sql(
                "SHOW CREATE TABLE r10bm_bk_postings").collect()[0][0]
            assert "4 BUCKETS" in ddl
            assert int(spark.table("r10bm_bk_meta")
                       .collect()[0]["num_buckets"]) == 4
        finally:
            _drop(spark, *(f"r10bm_bk{s}" for s in BM25_TABLES))

    def test_compact_bm25_merges_df_segments(self, spark):
        """store.compact('bm25') collapses the per-append df segments
        to one row per term and rewrites postings bucketed; served
        results are invariant."""
        from pipelinedp_spark.operators import retrieval

        docs = _docs(spark).limit(200)
        retrieval.build_bm25_index(docs.filter(F.col("doc_id") % 2 == 0),
                                   "r10bm_cp", num_buckets=4)
        retrieval.build_bm25_index(docs.filter(F.col("doc_id") % 2 == 1),
                                   "r10bm_cp", mode="append")
        try:
            before = _bm25_results(spark, "r10bm_cp")
            seg_terms = spark.table("r10bm_cp_terms")
            assert (seg_terms.groupBy("term").count()
                    .filter("count > 1").count() > 0), \
                "test needs terms spanning both halves"
            store.compact(spark, "r10bm_cp", "bm25")
            assert (spark.table("r10bm_cp_terms").groupBy("term").count()
                    .filter("count > 1").count() == 0)
            ddl = spark.sql(
                "SHOW CREATE TABLE r10bm_cp_postings").collect()[0][0]
            assert "4 BUCKETS" in ddl
            assert _bm25_results(spark, "r10bm_cp") == before and before
        finally:
            _drop(spark, *(f"r10bm_cp{s}" for s in BM25_TABLES))

    def test_compact_ann_drops_replayed_ids(self, spark):
        """store.compact('ann'): a replayed append duplicates id rows
        (each occupies a top-k slot); compaction dedups on id with the
        cell partitioning preserved, and search then matches a
        never-replayed index exactly."""
        from pipelinedp_spark.operators import similarity

        emb = (spark.read.parquet(f"{SF}/embeddings.parquet")
               .filter(F.col("vec_id") < 200))
        q = (emb.filter(F.col("vec_id") < 2)
             .select(F.col("vec_id").alias("query_id"),
                     F.col("embedding").alias("query_vec")))
        similarity.build_ann_index(emb, "r10ann_cp", num_cells=4, m=4,
                                   ksub=16)
        try:
            clean = sorted(
                (r["query_id"], r["vec_id"], r["rank"], r["adist"])
                for r in similarity.ann_search_from_index(
                    q, "r10ann_cp", k=5, nprobe=4).collect())
            # replay: the same rows appended again
            similarity.build_ann_index(emb.limit(50), "r10ann_cp",
                                       mode="append")
            n_total = emb.count()
            codes = spark.table("r10ann_cp_codes")
            assert codes.count() == n_total + 50
            store.compact(spark, "r10ann_cp", "ann")
            codes = spark.table("r10ann_cp_codes")
            assert codes.count() == n_total
            assert codes.select("id").distinct().count() == n_total
            ddl = spark.sql(
                "SHOW CREATE TABLE r10ann_cp_codes").collect()[0][0]
            assert "PARTITIONED BY (cell)" in ddl, ddl
            after = sorted(
                (r["query_id"], r["vec_id"], r["rank"], r["adist"])
                for r in similarity.ann_search_from_index(
                    q, "r10ann_cp", k=5, nprobe=4).collect())
            assert after == clean and clean
        finally:
            _drop(spark, "r10ann_cp_codes", "r10ann_cp_centroids",
                  "r10ann_cp_codebooks", "r10ann_cp_meta")

    def test_ann_two_trigger_ingest_search_partition_prunes(self, spark):
        """The stream_ann_store_mirror flow: bootstrap an EMPTY index
        with persisted models, append two increments (the foreachBatch
        body of stream_into), and the post-ingest search must
        still carry a cell PartitionFilter (the IVF pruning survives
        per-append partition writes)."""
        import re as _re

        from pipelinedp_spark import plans as P
        from pipelinedp_spark.operators import similarity

        emb = (spark.read.parquet(f"{SF}/embeddings.parquet")
               .filter(F.col("vec_id") < 300))
        x = similarity.sample_corpus_matrix(emb, "vec_id", "embedding",
                                            10_000)
        similarity.build_ann_index(
            emb.limit(0), "r10ann_st", num_cells=4, m=4, ksub=16,
            centroids=similarity.train_ivf_centroids(x, 4, 7),
            codebooks=similarity.train_pq_codebooks(x, 4, 16, 7))
        try:
            for batch in (emb.filter(F.col("vec_id") % 2 == 0),
                          emb.filter(F.col("vec_id") % 2 == 1)):
                for t in ("r10ann_st_meta", "r10ann_st_centroids",
                          "r10ann_st_codebooks"):
                    spark.catalog.refreshTable(t)
                similarity.build_ann_index(batch, "r10ann_st",
                                           mode="append")
            q = (emb.filter(F.col("vec_id") < 2)
                 .select(F.col("vec_id").alias("query_id"),
                         F.col("embedding").alias("query_vec")))
            out = similarity.ann_search_from_index(q, "r10ann_st", k=5,
                                                   nprobe=2)
            plan = P.explain_str(out)
            mm = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
            assert mm and "cell" in mm.group(1), plan[:2000]
            assert len(out.collect()) == 10
        finally:
            _drop(spark, "r10ann_st_codes", "r10ann_st_centroids",
                  "r10ann_st_codebooks", "r10ann_st_meta")

    def test_compact_minhash_reapplies_global_cap(self, spark):
        """The build-time max_bucket_size persists in meta and
        store.compact('minhash') re-applies it globally: a band bucket
        that stayed under the cap in each increment but exceeds it in
        union is dropped at compaction."""
        from pipelinedp_spark.operators.dedup import build_minhash_store

        def clones(lo, hi):
            return (spark.range(lo, hi)
                    .select(F.col("id").alias("doc_id"),
                            F.lit("identical text shared by every "
                                  "clone in this corpus").alias("text")))

        build_minhash_store(clones(0, 2), "r10mh_cap",
                            max_bucket_size=3, num_buckets=4)
        build_minhash_store(clones(2, 4), "r10mh_cap",
                            max_bucket_size=3, mode="append")
        try:
            m = spark.table("r10mh_cap_meta").collect()[0]
            assert int(m["max_bucket_size"]) == 3
            # each increment passed the per-batch cap (2 <= 3) so the
            # union holds 4 ids per band bucket — over the cap
            per_bh = (spark.table("r10mh_cap_bands").groupBy("bh")
                      .count().agg(F.max("count")).collect()[0][0])
            assert per_bh == 4
            store.compact(spark, "r10mh_cap", "minhash")
            assert spark.table("r10mh_cap_bands").count() == 0
            # shingles (the verify side) keep all docs
            assert spark.table("r10mh_cap_shingles").count() == 4
        finally:
            _drop(spark, "r10mh_cap_bands", "r10mh_cap_shingles",
                  "r10mh_cap_meta")

    def test_hot_band_bucket_bounded_by_cap(self, spark):
        """Adversarial skew for the bucketed store join (VERDICT r9
        task 8): one band key holding 50% of the reference would pin
        the whole hot bucket onto a single task of the candidate join —
        a bucketed scan AQE cannot re-split. The mitigation is the
        build-time max_bucket_size cap: the hot band's bucket is
        dropped at build (bounding per-task join work to cap x batch),
        while every under-cap band keeps exact near-dup semantics.
        Documented recall tradeoff: members of the dropped degenerate
        family are no longer matchable through that band."""
        from pipelinedp_spark.operators.dedup import (build_minhash_store,
                                                      incremental_near_dup)

        hot_text = ("identical boilerplate page repeated across half "
                    "the crawl corpus body text")
        hot = (spark.range(0, 5000)
               .select(F.col("id").alias("doc_id"),
                       F.lit(hot_text).alias("text")))
        uniq = (spark.range(5000, 10000)
                .select(F.col("id").alias("doc_id"),
                        F.concat_ws(" ", F.transform(
                            F.sequence(F.lit(1), F.lit(12)),
                            lambda i: F.conv(
                                F.abs(F.xxhash64(F.col("id"), i))
                                .cast("string"), 10, 36)))
                        .alias("text")))
        build_minhash_store(hot.unionByName(uniq), "r10mh_hot",
                            max_bucket_size=50, num_buckets=4)
        try:
            per_bh = (spark.table("r10mh_hot_bands").groupBy("bh")
                      .count().agg(F.max("count")).collect()[0][0])
            # per-task candidate work is bounded: no bucket past the cap
            assert per_bh is not None and per_bh <= 50
            # batch: one exact copy of a unique reference doc (must be
            # caught through its under-cap bands) + one hot-family copy
            # (passes — its bands were dropped, the cap's contract) +
            # one fresh doc (survives)
            ref_copy = (uniq.filter(F.col("doc_id") == 5000)
                        .select((F.col("doc_id") + 90000).alias("doc_id"),
                                "text"))
            hot_copy = spark.sql(
                f"SELECT 91000 AS doc_id, '{hot_text}' AS text")
            fresh = spark.sql(
                "SELECT 92000 AS doc_id, "
                "'completely novel content with no reference overlap "
                "anywhere at all' AS text")
            batch = ref_copy.unionByName(hot_copy).unionByName(fresh)
            kept = {r["doc_id"] for r in incremental_near_dup(
                batch, "r10mh_hot", jaccard_threshold=0.8)
                .select("doc_id").collect()}
            assert kept == {91000, 92000}, kept
        finally:
            _drop(spark, "r10mh_hot_bands", "r10mh_hot_shingles",
                  "r10mh_hot_meta")

    def test_random_batch_splits_equal_build_once(self, spark):
        """Property: for ANY partition of the corpus into ingest
        batches (random assignment, several seeds), building a store
        from batch 0 and appending the rest serves results identical
        to a build-once store over the whole corpus — the invariant
        the entire incremental-store family rests on, checked here for
        the two kinds where appends touch DERIVED global state (bm25:
        df segments + n_docs/total_dl scalars; exact: fingerprint set
        union)."""
        from pipelinedp_spark.operators import retrieval
        from pipelinedp_spark.operators.dedup import (build_exact_store,
                                                      incremental_exact_dedup)

        docs = _docs(spark).limit(150).localCheckpoint()
        retrieval.build_bm25_index(docs, "r10bm_prop_once", num_buckets=4)
        once = _bm25_results(spark, "r10bm_prop_once")
        probe = (_docs(spark).limit(200)
                 .filter(F.col("doc_id") >= 150)
                 .select((F.col("doc_id") + 70000).alias("doc_id"),
                         "text")
                 .unionByName(docs.limit(3).select(
                     (F.col("doc_id") + 80000).alias("doc_id"), "text"))
                 .localCheckpoint())
        build_exact_store(docs, "r10ex_prop_once", num_buckets=4)
        exact_once = {r["doc_id"] for r in incremental_exact_dedup(
            probe, "r10ex_prop_once").select("doc_id").collect()}
        try:
            for seed, nbatches in ((11, 2), (23, 3), (37, 4)):
                part = F.pmod(F.xxhash64(F.col("doc_id"), F.lit(seed)),
                              F.lit(nbatches))
                retrieval.build_bm25_index(
                    docs.filter(part == 0), "r10bm_prop", num_buckets=4)
                build_exact_store(docs.filter(part == 0), "r10ex_prop",
                                  num_buckets=4)
                for b in range(1, nbatches):
                    retrieval.build_bm25_index(
                        docs.filter(part == b), "r10bm_prop",
                        mode="append")
                    build_exact_store(docs.filter(part == b),
                                      "r10ex_prop", mode="append")
                assert _bm25_results(spark, "r10bm_prop") == once, \
                    (seed, nbatches)
                got = {r["doc_id"] for r in incremental_exact_dedup(
                    probe, "r10ex_prop").select("doc_id").collect()}
                assert got == exact_once, (seed, nbatches)
        finally:
            _drop(spark, *(f"r10bm_prop_once{s}" for s in BM25_TABLES),
                  *(f"r10bm_prop{s}" for s in BM25_TABLES),
                  "r10ex_prop_once_fps", "r10ex_prop_once_meta",
                  "r10ex_prop_fps", "r10ex_prop_meta")

    def test_max_df_ratio_stopword_guard(self, spark):
        """The production-index stopword guard: a query term present in
        > max_df_ratio of documents is dropped BEFORE its postings are
        probed — results equal scoring the query without that term
        (and default None keeps exact full scoring)."""
        from pipelinedp_spark.operators import retrieval

        docs = (_docs(spark).limit(120)
                .select("doc_id",
                        F.concat(F.lit("the "), F.col("text"))
                        .alias("text")))
        retrieval.build_bm25_index(docs, "r10bm_sw", num_buckets=4)
        try:
            q_with = spark.sql("SELECT 0 AS query_id, "
                               "'the hash join' AS query_text")
            q_without = spark.sql("SELECT 0 AS query_id, "
                                  "'hash join' AS query_text")
            guarded = sorted(
                (r["query_id"], r["doc_id"], r["rank"], r["score"])
                for r in retrieval.bm25_topk_from_index(
                    q_with, "r10bm_sw", k=10,
                    # the planted 'the' has df ratio exactly 1.0; the
                    # synthetic corpus is keyword-dense ('hash' 0.73,
                    # 'join' 0.79 at sf0.001), so guard just above them
                    max_df_ratio=0.99).collect())
            want = sorted(
                (r["query_id"], r["doc_id"], r["rank"], r["score"])
                for r in retrieval.bm25_topk_from_index(
                    q_without, "r10bm_sw", k=10).collect())
            assert guarded == want and guarded
            # default None scores the stopword too (exact mode differs)
            full = sorted(
                (r["query_id"], r["doc_id"], r["rank"], r["score"])
                for r in retrieval.bm25_topk_from_index(
                    q_with, "r10bm_sw", k=10).collect())
            assert full != want
        finally:
            _drop(spark, *(f"r10bm_sw{s}" for s in BM25_TABLES))

    def test_takedown_equals_fresh_build(self, spark):
        """remove_from_bm25_index: after removing a doc subset, served
        scores (and the n_docs/total_dl/avgdl scalars) must equal an
        index built fresh WITHOUT those docs — the exact
        right-to-be-forgotten contract; removal is logical (tombstones
        + negative df segments), compaction applies it physically with
        results invariant, and double-removal is a no-op."""
        from pipelinedp_spark.operators import retrieval

        docs = _docs(spark).limit(200)
        gone = docs.filter(F.col("doc_id") % 5 == 0)
        keep = docs.filter(F.col("doc_id") % 5 != 0)
        retrieval.build_bm25_index(keep, "r10bm_tk_want", num_buckets=4)
        retrieval.build_bm25_index(docs, "r10bm_tk", num_buckets=4)
        try:
            want = _bm25_results(spark, "r10bm_tk_want")
            retrieval.remove_from_bm25_index(gone, "r10bm_tk")
            assert _bm25_results(spark, "r10bm_tk") == want and want
            m_w = spark.table("r10bm_tk_want_meta").collect()[0]
            m_g = spark.table("r10bm_tk_meta").collect()[0]
            assert (m_w["n_docs"], m_w["total_dl"], m_w["avgdl"]) == \
                   (m_g["n_docs"], m_g["total_dl"], m_g["avgdl"])
            # idempotent: removing the same ids again changes nothing
            retrieval.remove_from_bm25_index(gone, "r10bm_tk")
            assert _bm25_results(spark, "r10bm_tk") == want
            m_g2 = spark.table("r10bm_tk_meta").collect()[0]
            assert m_g2["n_docs"] == m_g["n_docs"]
            assert m_g2["total_dl"] == m_g["total_dl"]
            # physical apply: postings rows gone, tombstones cleared,
            # results invariant
            store.compact(spark, "r10bm_tk", "bm25")
            assert not spark.catalog.tableExists("r10bm_tk_tombstones")
            removed_ids = {r["doc_id"] for r in gone.select("doc_id")
                           .collect()}
            left = {r["id"] for r in spark.table("r10bm_tk_postings")
                    .select("id").distinct().collect()}
            assert not (left & removed_ids)
            assert _bm25_results(spark, "r10bm_tk") == want
        finally:
            _drop(spark, *(f"r10bm_tk_want{s}" for s in BM25_TABLES),
                  *(f"r10bm_tk{s}" for s in BM25_TABLES),
                  "r10bm_tk_tombstones")

    def test_ann_takedown_and_compaction(self, spark):
        """remove_from_ann_index: removed vectors vanish from search
        results (anti-join on the pruned scan); compaction deletes
        their codes physically and clears tombstones; results equal a
        store never containing them."""
        from pipelinedp_spark.operators import similarity

        emb = (spark.read.parquet(f"{SF}/embeddings.parquet")
               .filter(F.col("vec_id") < 200))
        keep = emb.filter(F.col("vec_id") % 4 != 0)
        gone = emb.filter(F.col("vec_id") % 4 == 0)
        x = similarity.sample_corpus_matrix(emb, "vec_id", "embedding",
                                            10_000)
        cts = similarity.train_ivf_centroids(x, 4, 7)
        cb = similarity.train_pq_codebooks(x, 4, 16, 7)
        q = (emb.filter(F.col("vec_id") < 2)
             .select(F.col("vec_id").alias("query_id"),
                     F.col("embedding").alias("query_vec")))
        similarity.build_ann_index(keep, "r10ann_tkw", num_cells=4,
                                   m=4, ksub=16, centroids=cts,
                                   codebooks=cb)
        similarity.build_ann_index(emb, "r10ann_tk", num_cells=4,
                                   m=4, ksub=16, centroids=cts,
                                   codebooks=cb)
        try:
            def res(store):
                return sorted(
                    (r["query_id"], r["vec_id"], r["rank"], r["adist"])
                    for r in similarity.ann_search_from_index(
                        q, store, k=5, nprobe=4).collect())
            want = res("r10ann_tkw")
            similarity.remove_from_ann_index(gone, "r10ann_tk")
            assert res("r10ann_tk") == want and want
            store.compact(spark, "r10ann_tk", "ann")
            assert not spark.catalog.tableExists("r10ann_tk_tombstones")
            assert res("r10ann_tk") == want
            assert spark.table("r10ann_tk_codes").count() == keep.count()
        finally:
            for s in ("r10ann_tkw", "r10ann_tk"):
                _drop(spark, f"{s}_codes", f"{s}_centroids",
                      f"{s}_codebooks", f"{s}_meta", f"{s}_tombstones")

    def test_exact_store_takedown(self, spark):
        """remove_from_exact_store: a tombstoned fingerprint stops
        deduping future batches (its reference copy was taken down);
        compaction applies physically; results equal a store never
        containing the removed docs."""
        from pipelinedp_spark.operators.dedup import (
            build_exact_store, incremental_exact_dedup,
            remove_from_exact_store)

        docs = _docs(spark).limit(100).localCheckpoint()
        gone = docs.filter(F.col("doc_id") % 3 == 0)
        build_exact_store(docs, "r10ex_tk", num_buckets=4)
        try:
            batch = docs.select((F.col("doc_id") + 50000)
                                .alias("doc_id"), "text")
            # before removal: every batch doc is a copy -> all dropped
            assert incremental_exact_dedup(batch, "r10ex_tk").count() == 0
            remove_from_exact_store(gone, "r10ex_tk")
            survivors = {r["doc_id"] for r in incremental_exact_dedup(
                batch, "r10ex_tk").select("doc_id").collect()}
            want = {r["doc_id"] + 50000 for r in gone.select("doc_id")
                    .collect()}
            assert survivors == want and want
            n_before = spark.table("r10ex_tk_fps").count()
            store.compact(spark, "r10ex_tk", "exact")
            assert not spark.catalog.tableExists("r10ex_tk_tombstones")
            assert spark.table("r10ex_tk_fps").count() < n_before
            assert {r["doc_id"] for r in incremental_exact_dedup(
                batch, "r10ex_tk").select("doc_id").collect()} == want
        finally:
            _drop(spark, "r10ex_tk_fps", "r10ex_tk_meta",
                  "r10ex_tk_tombstones")

    def test_minhash_span_phash_takedowns(self, spark):
        """Takedowns for the remaining store kinds: a removed
        reference doc stops deduping (minhash) / span-cutting (span) /
        flagging (phash) future batches, both logically and after
        physical compaction."""
        from pipelinedp_spark.operators.dedup import (
            build_minhash_store, build_span_store,
            incremental_decontaminate_spans, incremental_near_dup,
            remove_from_minhash_store, remove_from_span_store)
        from pipelinedp_spark.operators import multimodal as MM

        docs = _docs(spark).limit(60).localCheckpoint()
        gone = docs.filter(F.col("doc_id") % 2 == 0)
        batch = docs.select((F.col("doc_id") + 50000).alias("doc_id"),
                            "text")
        gone_batch_ids = {r["doc_id"] + 50000
                          for r in gone.select("doc_id").collect()}

        # minhash: exact copies of removed refs must survive post-removal
        build_minhash_store(docs, "r10mh_tk", num_buckets=4)
        try:
            assert incremental_near_dup(batch, "r10mh_tk").count() == 0
            remove_from_minhash_store(gone, "r10mh_tk")
            got = {r["doc_id"] for r in incremental_near_dup(
                batch, "r10mh_tk").select("doc_id").collect()}
            assert got == gone_batch_ids
            store.compact(spark, "r10mh_tk", "minhash")
            assert not spark.catalog.tableExists("r10mh_tk_tombstones")
            assert {r["doc_id"] for r in incremental_near_dup(
                batch, "r10mh_tk").select("doc_id").collect()} == got
        finally:
            _drop(spark, "r10mh_tk_bands", "r10mh_tk_shingles",
                  "r10mh_tk_meta", "r10mh_tk_tombstones")

        # span: batch copies of removed refs stop producing spans
        long_docs = docs.filter(F.length("text") >= 80).localCheckpoint()
        gone_s = long_docs.filter(F.col("doc_id") % 2 == 0)
        batch_s = long_docs.select(
            (F.col("doc_id") + 50000).alias("doc_id"), "text")
        build_span_store(long_docs, "r10sp_tk", min_len=50,
                         num_buckets=4)
        try:
            before = {r["doc_id"] for r in incremental_decontaminate_spans(
                batch_s, "r10sp_tk").select("doc_id").distinct()
                .collect()}
            assert before  # every batch doc is a full copy
            remove_from_span_store(gone_s, "r10sp_tk")
            after = {r["doc_id"] for r in incremental_decontaminate_spans(
                batch_s, "r10sp_tk").select("doc_id").distinct()
                .collect()}
            removed_ids = {r["doc_id"] + 50000
                           for r in gone_s.select("doc_id").collect()}
            assert after == before - removed_ids
            store.compact(spark, "r10sp_tk", "span")
            assert not spark.catalog.tableExists("r10sp_tk_tombstones")
            assert {r["doc_id"] for r in incremental_decontaminate_spans(
                batch_s, "r10sp_tk").select("doc_id").distinct()
                .collect()} == after
        finally:
            _drop(spark, "r10sp_tk_anchors", "r10sp_tk_texts",
                  "r10sp_tk_meta", "r10sp_tk_tombstones")

        # phash: removal is PER-IMAGE (r11) — a family fingerprint
        # dies only when its LAST member is removed, so a partial
        # takedown keeps flagging, a full-family takedown stops
        import numpy as np
        import pandas as pd

        def gen(it):
            i, j = np.meshgrid(np.arange(32), np.arange(32),
                               indexing="ij")
            for pdf in it:
                vals = pdf["doc_id"].astype("int64")
                payloads = []
                for d in vals:
                    g = int(d) % 8
                    px = ((13 * ((i * (g + 3) + j) % 23) + g * 29)
                          % 200).astype(np.uint8)
                    payloads.append(MM.encode_bmp(px))
                yield pd.DataFrame({"doc_id": vals, "image": payloads})

        imgs = (spark.range(40).select(F.col("id").alias("doc_id"))
                .mapInPandas(gen, "doc_id long, image binary")
                .localCheckpoint())
        gone_i = imgs.filter(F.pmod(F.col("doc_id"), 8) < 4)
        MM.build_phash_store(imgs, "r10ph_tk", num_buckets=4)
        try:
            batch_i = imgs.select((F.col("doc_id") + 900).alias("doc_id"),
                                  "image")
            assert (MM.incremental_phash_dedup(batch_i, "r10ph_tk")
                    .filter("is_dup").count() == 40)
            # PARTIAL takedown first: one member of family 4 (which has
            # 5 members: ids 4,12,20,28,36) — survivors keep the
            # family's fingerprint alive, all 40 batch copies still flag
            MM.remove_from_phash_store(
                imgs.filter(F.col("doc_id") == 4), "r10ph_tk")
            assert (MM.incremental_phash_dedup(batch_i, "r10ph_tk")
                    .filter("is_dup").count() == 40)
            # idempotent: re-removing the same image changes nothing
            MM.remove_from_phash_store(
                imgs.filter(F.col("doc_id") == 4), "r10ph_tk")
            assert (MM.incremental_phash_dedup(batch_i, "r10ph_tk")
                    .filter("is_dup").count() == 40)
            # FULL-family takedown: every member of families 0-3 goes —
            # those fingerprints die, families 4-7 keep flagging
            MM.remove_from_phash_store(gone_i, "r10ph_tk")
            flagged = (MM.incremental_phash_dedup(batch_i, "r10ph_tk")
                       .filter("is_dup").count())
            assert flagged == 20, flagged
            store.compact(spark, "r10ph_tk", "phash")
            assert not spark.catalog.tableExists("r10ph_tk_tombstones")
            assert not spark.catalog.tableExists("r10ph_tk_removed_ids")
            assert (MM.incremental_phash_dedup(batch_i, "r10ph_tk")
                    .filter("is_dup").count() == 20)
            # members compacted to the survivor set: 40 - 20 full-family
            # - 1 partial (doc 4)
            assert spark.table("r10ph_tk_members").count() == 19
        finally:
            _drop(spark, "r10ph_tk_blocks", "r10ph_tk_meta",
                  "r10ph_tk_members", "r10ph_tk_removed_ids",
                  "r10ph_tk_tombstones")

    def test_empty_corpus_builds_queryable_index(self, spark):
        """An empty reference bootstraps the incremental flow (same
        contract as the dedup stores): build empty, query empty,
        append the real corpus later."""
        from pipelinedp_spark.operators import retrieval

        docs = _docs(spark).limit(50)
        retrieval.build_bm25_index(docs.filter(F.lit(False)),
                                   "r10bm_mt", num_buckets=4)
        try:
            m = spark.table("r10bm_mt_meta").collect()[0]
            assert m["n_docs"] == 0 and m["avgdl"] == 0.0
            assert _bm25_results(spark, "r10bm_mt") == []
            retrieval.build_bm25_index(docs, "r10bm_mt", mode="append")
            assert _bm25_results(spark, "r10bm_mt")
        finally:
            _drop(spark, *(f"r10bm_mt{s}" for s in BM25_TABLES))
