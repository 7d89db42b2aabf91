"""Round-11 exactly-once + mid-stream-takedown contracts for the
store-family streaming ingests (VERDICT r10 tasks 2 and 3).

Every store kind's foreachBatch body is the shared, batch-callable
`store.ingest_batch_once`, guarded by the
``{store}_ingest_log`` batch-id table (`store.apply_batch_once`):

* an at-least-once REPLAY of a micro-batch must be a complete no-op —
  no sink call, no index append;
* a takedown issued BETWEEN triggers (`remove_from_*`) must change the
  NEXT trigger's output (the removed reference stops deduping /
  serving) without a stream restart.
"""

import pytest
from pyspark.sql import functions as F

from pipelinedp_spark import store
from pipelinedp_spark.operators.dedup import (build_exact_store,
                                              build_minhash_store,
                                              remove_from_exact_store,
                                              remove_from_minhash_store)

pytestmark = pytest.mark.store


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _drop(spark, names):
    for t in names:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


EXACT_TABLES = ("xo_exact_fps", "xo_exact_meta", "xo_exact_tombstones",
                "xo_exact_ingest_log")


def test_exact_ingest_exactly_once_and_mid_stream_takedown(spark):
    _drop(spark, EXACT_TABLES)
    build_exact_store(_docs(spark, []).limit(0), "xo_exact",
                      num_buckets=2)
    outs = []
    b0 = _docs(spark, [(0, "alpha text"), (1, "beta text")])
    assert store.ingest_batch_once(
        "exact", b0, "xo_exact", 0, sink=lambda s: outs.append(s))
    assert len(outs) == 1
    n_fps = spark.table("xo_exact_fps").count()
    assert n_fps == 2
    # replay of batch 0: suppressed END TO END — the sink is never
    # called and the fps table does not grow
    assert not store.ingest_batch_once(
        "exact", b0, "xo_exact", 0, sink=lambda s: outs.append(s))
    assert len(outs) == 1
    spark.catalog.refreshTable("xo_exact_fps")
    assert spark.table("xo_exact_fps").count() == n_fps
    # takedown BETWEEN triggers: alpha's reference copy is removed, so
    # the next trigger must re-admit alpha text while beta still dedups
    remove_from_exact_store(_docs(spark, [(0, "alpha text")]),
                            "xo_exact")
    got = []
    assert store.ingest_batch_once(
        "exact", b0.sparkSession.createDataFrame(
            [(5, "alpha text"), (6, "beta text")],
            "doc_id long, text string"),
        "xo_exact", 1,
        sink=lambda s: got.append(sorted(
            r["doc_id"] for r in s.select("doc_id").collect())))
    assert got == [[5]]
    _drop(spark, EXACT_TABLES)


ND_TABLES = ("xo_nd_bands", "xo_nd_shingles", "xo_nd_meta",
             "xo_nd_tombstones", "xo_nd_ingest_log")


def test_near_dup_ingest_exactly_once_and_mid_stream_takedown(spark):
    _drop(spark, ND_TABLES)
    alpha = "the quick brown fox jumps over the lazy dog again"
    beta = "a completely different document about spark physical plans"
    build_minhash_store(_docs(spark, []).limit(0), "xo_nd",
                        num_buckets=2)
    outs = []
    b0 = _docs(spark, [(0, alpha), (2, beta)])
    assert store.ingest_batch_once(
        "minhash", b0, "xo_nd", 0, sink=lambda s: outs.append(s))
    assert len(outs) == 1
    n_bands = spark.table("xo_nd_bands").count()
    # replay: no sink call, no bands append
    assert not store.ingest_batch_once(
        "minhash", b0, "xo_nd", 0, sink=lambda s: outs.append(s))
    assert len(outs) == 1
    spark.catalog.refreshTable("xo_nd_bands")
    assert spark.table("xo_nd_bands").count() == n_bands
    # takedown of reference doc 0 between triggers: trigger 1's copy of
    # alpha must now SURVIVE, while beta (doc 2 still referenced) drops
    remove_from_minhash_store(_docs(spark, [(0, alpha)]), "xo_nd")
    got = []
    assert store.ingest_batch_once(
        "minhash", _docs(spark, [(7, alpha), (8, beta)]), "xo_nd", 1,
        sink=lambda s: got.append(sorted(
            r["doc_id"] for r in s.select("doc_id").collect())))
    assert got == [[7]]
    _drop(spark, ND_TABLES)


ANN_TABLES = ("xo_ann_codes", "xo_ann_centroids", "xo_ann_codebooks",
              "xo_ann_meta", "xo_ann_tombstones", "xo_ann_ingest_log")


def test_ann_ingest_exactly_once_and_mid_stream_takedown(spark):
    from pipelinedp_spark.operators.similarity import (
        ann_search_from_index, build_ann_index, remove_from_ann_index)
    _drop(spark, ANN_TABLES)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") < 200)
    build_ann_index(base, "xo_ann", num_cells=4, m=4, ksub=16)
    inc = (emb.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 230))
           .select((F.col("vec_id") + 500000).alias("vec_id"),
                   "embedding"))
    assert store.ingest_batch_once("ann", inc, "xo_ann", 0)
    spark.catalog.refreshTable("xo_ann_codes")
    n_codes = spark.table("xo_ann_codes").count()
    # replay: no duplicate code rows (they would occupy top-k slots)
    assert not store.ingest_batch_once("ann", inc, "xo_ann", 0)
    spark.catalog.refreshTable("xo_ann_codes")
    assert spark.table("xo_ann_codes").count() == n_codes
    probe = (emb.filter(F.col("vec_id") == 205)
             .select(F.lit(1).alias("query_id"),
                     F.col("embedding").alias("query_vec")))
    res = ann_search_from_index(probe, "xo_ann", k=3, nprobe=2).collect()
    assert any(r["vec_id"] == 500205 for r in res), res
    # takedown between triggers: the ingested vector disappears from
    # serving without restart or rebuild
    remove_from_ann_index(
        spark.sql("SELECT CAST(500205 AS BIGINT) AS vec_id"), "xo_ann")
    res2 = ann_search_from_index(probe, "xo_ann", k=3,
                                 nprobe=2).collect()
    assert not any(r["vec_id"] == 500205 for r in res2), res2
    # and the next ingest batch still applies normally after a takedown
    inc2 = (emb.filter((F.col("vec_id") >= 230) & (F.col("vec_id") < 240))
            .select((F.col("vec_id") + 500000).alias("vec_id"),
                    "embedding"))
    assert store.ingest_batch_once("ann", inc2, "xo_ann", 1)
    _drop(spark, ANN_TABLES)


SPAN_TABLES = ("xo_span_anchors", "xo_span_texts", "xo_span_meta",
               "xo_span_tombstones", "xo_span_ingest_log",
               "xo_spanref_anchors", "xo_spanref_texts",
               "xo_spanref_meta")


def test_span_ingest_exactly_once_equals_build_once(spark):
    from pipelinedp_spark.operators.dedup import (
        build_span_store, incremental_decontaminate_spans)
    _drop(spark, SPAN_TABLES)
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .filter(F.length("text") >= 80).limit(40).localCheckpoint())
    build_span_store(docs.limit(0), "xo_span", min_len=50, num_buckets=2)
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 != 0)
    assert store.ingest_batch_once("span", b0, "xo_span", 0)
    assert store.ingest_batch_once("span", b1, "xo_span", 1)
    spark.catalog.refreshTable("xo_span_anchors")
    n_anchors = spark.table("xo_span_anchors").count()
    # replay: no duplicate anchors/texts appended
    assert not store.ingest_batch_once("span", b1, "xo_span", 1)
    spark.catalog.refreshTable("xo_span_anchors")
    assert spark.table("xo_span_anchors").count() == n_anchors
    # streamed-increment store must decontaminate EXACTLY like a
    # build-once store over the same reference
    batch = docs.select((F.col("doc_id") + 50000).alias("doc_id"),
                        "text")
    got = sorted(map(tuple, incremental_decontaminate_spans(
        batch, "xo_span").collect()))
    build_span_store(docs, "xo_spanref", min_len=50, num_buckets=2)
    want = sorted(map(tuple, incremental_decontaminate_spans(
        batch, "xo_spanref").collect()))
    assert got == want and got
    _drop(spark, SPAN_TABLES)


PHASH_TABLES = ("xo_ph_blocks", "xo_ph_members", "xo_ph_meta",
                "xo_ph_tombstones", "xo_ph_removed_ids",
                "xo_ph_ingest_log", "xo_phref_blocks",
                "xo_phref_members", "xo_phref_meta")


def _images(spark, n):
    import numpy as np
    import pandas as pd

    from pipelinedp_spark.operators import multimodal as MM

    def gen(it):
        i, j = np.meshgrid(np.arange(32), np.arange(32), indexing="ij")
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            payloads = [MM.encode_bmp(
                ((13 * ((i * ((int(d) % 8) + 3) + j) % 23)
                  + (int(d) % 8) * 29) % 200).astype(np.uint8))
                for d in ids]
            yield pd.DataFrame({"doc_id": ids, "image": payloads})

    return (spark.range(n).select(F.col("id").alias("doc_id"))
            .mapInPandas(gen, "doc_id long, image binary")
            .localCheckpoint())


def test_phash_ingest_exactly_once_and_member_counting(spark):
    from pipelinedp_spark.operators import multimodal as MM
    _drop(spark, PHASH_TABLES)
    imgs = _images(spark, 32)    # 8 visual families x 4 members
    MM.build_phash_store(imgs.limit(0), "xo_ph", num_buckets=2)
    b0 = imgs.filter(F.col("doc_id") % 2 == 0)
    b1 = imgs.filter(F.col("doc_id") % 2 != 0)
    assert store.ingest_batch_once("phash", b0, "xo_ph", 0)
    assert store.ingest_batch_once("phash", b1, "xo_ph", 1)
    spark.catalog.refreshTable("xo_ph_members")
    assert spark.table("xo_ph_members").count() == 32
    # replay: member rows must NOT duplicate (inflated member counts
    # would keep a family alive past its real last takedown)
    assert not store.ingest_batch_once("phash", b1, "xo_ph", 1)
    spark.catalog.refreshTable("xo_ph_members")
    assert spark.table("xo_ph_members").count() == 32
    batch = imgs.select((F.col("doc_id") + 900).alias("doc_id"),
                        "image")
    assert (MM.incremental_phash_dedup(batch, "xo_ph")
            .filter("is_dup").count() == 32)
    # equality with a build-once store over the same reference
    MM.build_phash_store(imgs, "xo_phref", num_buckets=2)
    got = sorted(map(tuple, MM.incremental_phash_dedup(
        batch, "xo_ph").collect()))
    want = sorted(map(tuple, MM.incremental_phash_dedup(
        batch, "xo_phref").collect()))
    assert got == want
    # per-image takedown over STREAMED members: removing 3 of family
    # 0's 4 members keeps it flagging; the 4th retires it
    fam0 = imgs.filter(F.pmod(F.col("doc_id"), 8) == 0)
    MM.remove_from_phash_store(fam0.filter(F.col("doc_id") < 24),
                               "xo_ph")
    assert (MM.incremental_phash_dedup(batch, "xo_ph")
            .filter("is_dup").count() == 32)
    MM.remove_from_phash_store(fam0, "xo_ph")
    assert (MM.incremental_phash_dedup(batch, "xo_ph")
            .filter("is_dup").count() == 28)
    _drop(spark, PHASH_TABLES)


SPAN_TK_TABLES = ("xo_spt_anchors", "xo_spt_texts", "xo_spt_meta",
                  "xo_spt_tombstones", "xo_spt_ingest_log")


def test_span_ingest_mid_stream_takedown(spark):
    """Takedown BETWEEN span-store ingest triggers, then an in-session
    serve (VERDICT r11 task 5): the removed reference doc's spans stop
    being cut at the NEXT serve without a stream restart, while later
    triggers keep ingesting normally."""
    from pipelinedp_spark.operators.dedup import (
        build_span_store, incremental_decontaminate_spans,
        remove_from_span_store)
    _drop(spark, SPAN_TK_TABLES)
    text_a = ("alpha reference passage about contribution bounding "
              "and partition selection in differential privacy land")
    text_b = ("beta reference passage describing bucketed joins and "
              "zero exchange scans across the persisted store family")
    text_c = ("gamma reference passage covering watermark semantics "
              "and late data handling in structured streaming jobs")
    build_span_store(_docs(spark, []).limit(0), "xo_spt", min_len=50,
                     num_buckets=2)
    assert store.ingest_batch_once(
        "span", _docs(spark, [(0, text_a), (2, text_b)]), "xo_spt", 0)
    batch = _docs(spark, [(100, text_a), (101, text_b), (102, text_c)])

    def flagged():
        spark.catalog.refreshTable("xo_spt_anchors")
        return {r["doc_id"] for r in
                incremental_decontaminate_spans(batch, "xo_spt")
                .select("doc_id").distinct().collect()}

    assert flagged() == {100, 101}
    # takedown of reference doc 0 BETWEEN triggers…
    remove_from_span_store(_docs(spark, [(0, text_a)]), "xo_spt")
    # …a later trigger still ingests normally…
    assert store.ingest_batch_once(
        "span", _docs(spark, [(4, text_c)]), "xo_spt", 1)
    # …and the in-session serve reflects BOTH: text_a is admissible
    # again (its only reference copy was removed), text_c now cuts
    assert flagged() == {101, 102}
    _drop(spark, SPAN_TK_TABLES)


PHASH_TK_TABLES = ("xo_pht_blocks", "xo_pht_members", "xo_pht_meta",
                   "xo_pht_tombstones", "xo_pht_removed_ids",
                   "xo_pht_ingest_log")


def test_phash_ingest_mid_stream_takedown(spark):
    """Takedown BETWEEN pHash-store ingest triggers, then an
    in-session serve: retiring a family's last streamed members stops
    it flagging at the next serve; a later trigger keeps ingesting;
    and re-appended content of a tombstoned hash stays hidden until
    compaction (the documented re-add contract)."""
    from pipelinedp_spark.operators import multimodal as MM
    _drop(spark, PHASH_TK_TABLES)
    imgs = _images(spark, 32)   # 8 visual families (doc_id % 8) x 4
    MM.build_phash_store(imgs.limit(0), "xo_pht", num_buckets=2)
    # trigger 0 ingests members 0..15 (two per family)
    assert store.ingest_batch_once(
        "phash", imgs.filter(F.col("doc_id") < 16), "xo_pht", 0)
    batch = imgs.filter((F.col("doc_id") >= 16) & (F.col("doc_id") < 24)) \
        .select((F.col("doc_id") + 900).alias("doc_id"), "image")

    def dup_fams():
        for t in ("xo_pht_blocks", "xo_pht_members"):
            spark.catalog.refreshTable(t)
        return {(r["doc_id"] - 900) % 8 for r in
                MM.incremental_phash_dedup(batch, "xo_pht")
                .filter("is_dup").collect()}

    assert dup_fams() == set(range(8))
    # takedown of BOTH streamed members of family 3 BETWEEN triggers
    MM.remove_from_phash_store(
        imgs.filter(F.col("doc_id").isin(3, 11)), "xo_pht")
    # a later trigger ingests normally — including doc 27, a NEW
    # member of tombstoned family 3
    assert store.ingest_batch_once(
        "phash", imgs.filter(F.col("doc_id") >= 24), "xo_pht", 1)
    # the in-session serve hides family 3 (takedown honored; the
    # re-added member does NOT resurrect it — re-add needs compaction
    # first, the documented contract) while the rest keep flagging
    assert dup_fams() == set(range(8)) - {3}
    # compaction clears the tombstone AND the dead family's rows;
    # a fresh append then re-indexes the content
    store.compact(spark, "xo_pht", "phash")
    assert dup_fams() == set(range(8)) - {3}
    assert store.ingest_batch_once(
        "phash", imgs.filter(F.col("doc_id") == 19), "xo_pht", 2)
    assert dup_fams() == set(range(8))
    _drop(spark, PHASH_TK_TABLES)
