"""Round-9 additions tour: the PERSISTED incremental-store family —
dedup each new crawl against an ever-growing reference WITHOUT
recomputing the reference's fingerprints, across four modalities:

1. Exact store      (`build_exact_store` + `incremental_exact_dedup`)
2. Near-dup store   (`build_minhash_store` + `incremental_near_dup`)
3. Span store       (`build_span_store` + `incremental_decontaminate_spans`)
4. Image pHash store (`build_phash_store` + `incremental_phash_dedup`)

plus the shared lifecycle: append a new reference increment, compact
(`store.compact`), and the streaming face (`stream_into`) that keeps
the SAME tables current from a stream. Every store is a set of
BUCKETED tables, so each ingest batch joins the index with ZERO
shuffle on the store side — the property that makes the flow viable
when the reference is 100 TB and a batch is 100 GB.

    python examples/incremental_dedup_stores.py [sf_dir]
"""

import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, ".")
from pipelinedp_spark import store  # noqa: E402
from pipelinedp_spark.operators import dedup  # noqa: E402
from pipelinedp_spark.operators.retrieval import (  # noqa: E402
    bm25_topk_from_index, build_bm25_index)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = (SparkSession.builder.master("local[4]")
             .appName("incremental-dedup-stores")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ref = docs.filter(F.col("doc_id") % 2 == 0)       # "already ingested"
    crawl = docs.filter(F.col("doc_id") % 2 == 1)     # "today's crawl"

    # 1. Exact store: build once, dedup a batch, append the survivors,
    #    dedup the SAME batch again (now everything is a duplicate).
    dedup.build_exact_store(ref, "demo_exact")
    s1 = dedup.incremental_exact_dedup(crawl, "demo_exact")
    print("exact: crawl", crawl.count(), "-> new", s1.count())
    dedup.build_exact_store(s1, "demo_exact", mode="append")
    again = dedup.incremental_exact_dedup(crawl, "demo_exact").count()
    print("exact: same crawl after append ->", again, "(expect 0)")
    store.compact(spark, "demo_exact", "exact")

    # 2. Near-dup store: MinHash bands + shingles persisted; batches
    #    match at Jaccard >= 0.7 without recomputing reference bands.
    dedup.build_minhash_store(ref, "demo_near")
    s2 = dedup.incremental_near_dup(crawl, "demo_near",
                                    jaccard_threshold=0.7)
    print("near:  crawl", crawl.count(), "-> new", s2.count())

    # 3. Span store: winnowing anchors + text persisted; batches get
    #    exact duplicated CHARACTER ranges against the reference.
    dedup.build_span_store(ref, "demo_span", min_len=48)
    spans = dedup.incremental_decontaminate_spans(crawl, "demo_span")
    print("span:  docs with overlap spans:",
          spans.select("doc_id").distinct().count())
    cut = dedup.cut_spans(crawl, spans)
    print("span:  chars cut:",
          cut.agg(F.sum("n_cut_chars")).first()[0])

    # 4. BM25 inverted index: corpus tokenized once; queries touch only
    #    their terms' postings.
    build_bm25_index(docs, "demo_bm25")
    q = spark.sql("SELECT * FROM VALUES (0, 'hash join merge') "
                  "AS t(query_id, query_text)")
    print("bm25:  top-3 from index:")
    for r in bm25_topk_from_index(q, "demo_bm25", k=3).collect():
        print("   ", r["doc_id"], r["score"])

    for t in ("demo_exact_fps", "demo_exact_meta",
              "demo_near_bands", "demo_near_shingles", "demo_near_meta",
              "demo_span_anchors", "demo_span_texts", "demo_span_meta",
              "demo_bm25_postings", "demo_bm25_terms", "demo_bm25_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    spark.stop()


if __name__ == "__main__":
    main()
