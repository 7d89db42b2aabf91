"""The full persisted-index lifecycle with EXACT takedowns
(right-to-be-forgotten / licensing removals) — the operation a 100-TB
corpus index must support without a rebuild.

1. BM25 inverted index: build half the corpus, APPEND the rest
   (postings + df segments land bucket-aligned; n_docs/total_dl/avgdl
   refresh exactly), serve with the stopword guard, then REMOVE a doc
   subset — tombstones + NEGATIVE df segments keep served scores
   bit-identical to an index never containing them.
2. The same takedown on the exact-dedup fingerprint store: removed
   reference docs stop deduping future ingest batches.
3. Exactly-once micro-batch ingest (round 11): the foreachBatch body of
   every store-kind stream is the batch-callable guarded
   `store.ingest_batch_once` — a replayed batch is a complete no-op, so
   at-least-once delivery never double-writes output or index rows.
4. PER-IMAGE pHash takedown (round 11): removing one image of a
   visually-identical family keeps the family deduping future crawls;
   the fingerprint dies only when the LAST member is removed.
5. store.compact applies every tombstone physically (and merges
   per-append small files / df segments); results invariant.

    python examples/index_takedown_lifecycle.py [sf_dir]
"""

import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, ".")
from pipelinedp_spark import store  # noqa: E402
from pipelinedp_spark.operators import dedup, retrieval  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"


def main() -> None:
    spark = (SparkSession.builder.master("local[4]")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(300)

    # -- 1. BM25: build + append + serve ------------------------------
    retrieval.build_bm25_index(docs.filter(F.col("doc_id") % 2 == 0),
                               "demo_bm25", num_buckets=4)
    retrieval.build_bm25_index(docs.filter(F.col("doc_id") % 2 == 1),
                               "demo_bm25", mode="append")
    q = spark.sql("SELECT 0 AS query_id, 'hash join merge' AS query_text")
    print("after append (stopword guard on):")
    retrieval.bm25_topk_from_index(q, "demo_bm25", k=5,
                                   max_df_ratio=0.99).show()

    # -- takedown: remove every fifth document, scores stay EXACT -----
    gone = docs.filter(F.col("doc_id") % 5 == 0)
    retrieval.remove_from_bm25_index(gone, "demo_bm25")
    print("after takedown of doc_id % 5 == 0 (logical, O(removed)):")
    retrieval.bm25_topk_from_index(q, "demo_bm25", k=5).show()

    # -- 2. exact store: removed refs stop deduping -------------------
    dedup.build_exact_store(docs, "demo_fp", num_buckets=4)
    batch = docs.select((F.col("doc_id") + 10_000).alias("doc_id"),
                        "text")
    print("copies surviving dedup before takedown:",
          dedup.incremental_exact_dedup(batch, "demo_fp").count())
    dedup.remove_from_exact_store(gone, "demo_fp")
    print("after takedown (removed docs' copies admissible again):",
          dedup.incremental_exact_dedup(batch, "demo_fp").count())

    # -- 3. exactly-once ingest: a replayed micro-batch is a no-op ----
    b = docs.select((F.col("doc_id") + 50_000).alias("doc_id"), "text")
    print("batch 7 applied:",
          store.ingest_batch_once("exact", b, "demo_fp", 7))
    print("batch 7 REPLAYED (suppressed by the ingest log):",
          store.ingest_batch_once("exact", b, "demo_fp", 7))

    # -- 4. per-image pHash takedown ----------------------------------
    import numpy as np
    import pandas as pd

    from pipelinedp_spark.operators import multimodal as MM

    def gen(it):
        i, j = np.meshgrid(np.arange(32), np.arange(32), indexing="ij")
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            payloads = [MM.encode_bmp(
                ((i * ((int(d) % 4) + 2) + j) % 200).astype(np.uint8))
                for d in ids]
            yield pd.DataFrame({"doc_id": ids, "image": payloads})

    imgs = (spark.range(12).select(F.col("id").alias("doc_id"))
            .mapInPandas(gen, "doc_id long, image binary")
            .localCheckpoint())     # 4 visual families x 3 members
    MM.build_phash_store(imgs, "demo_ph", num_buckets=4)
    crawl = imgs.select((F.col("doc_id") + 100).alias("doc_id"), "image")
    print("crawl copies flagged:",
          MM.incremental_phash_dedup(crawl, "demo_ph")
          .filter("is_dup").count())
    MM.remove_from_phash_store(imgs.filter(F.col("doc_id") == 0),
                               "demo_ph")
    print("after removing ONE member of family 0 (survivors keep it):",
          MM.incremental_phash_dedup(crawl, "demo_ph")
          .filter("is_dup").count())
    MM.remove_from_phash_store(
        imgs.filter(F.pmod(F.col("doc_id"), 4) == 0), "demo_ph")
    print("after removing ALL of family 0 (fingerprint retired):",
          MM.incremental_phash_dedup(crawl, "demo_ph")
          .filter("is_dup").count())

    # -- 5. compaction applies tombstones physically ------------------
    store.compact(spark, "demo_bm25", "bm25")
    store.compact(spark, "demo_fp", "exact")
    store.compact(spark, "demo_ph", "phash")
    print("post-compaction tombstone tables exist:",
          spark.catalog.tableExists("demo_bm25_tombstones"),
          spark.catalog.tableExists("demo_fp_tombstones"),
          spark.catalog.tableExists("demo_ph_tombstones"))
    print("served results invariant after physical apply:")
    retrieval.bm25_topk_from_index(q, "demo_bm25", k=5).show()

    for t in ("demo_bm25_postings", "demo_bm25_terms", "demo_bm25_meta",
              "demo_fp_fps", "demo_fp_meta", "demo_fp_ingest_log",
              "demo_ph_blocks", "demo_ph_members", "demo_ph_meta",
              "demo_ph_removed_ids"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    spark.stop()


if __name__ == "__main__":
    main()
