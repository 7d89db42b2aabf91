"""Round-11 store-plumbing contracts: append validation fails loudly on
knobs missing from an older meta row (instead of silently skipping the
corruption guard), and reader-side tombstone broadcasts are size-guarded
(a jumbo takedown falls back to a plain anti-join instead of
force-broadcasting a corpus-scale table)."""

import pytest
from pyspark.sql import functions as F

from pipelinedp_spark import store

pytestmark = pytest.mark.store


def _drop(spark, *names):
    for t in names:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_begin_build_rejects_missing_validated_knob(spark):
    _drop(spark, "plumb_meta_meta")
    # a store whose meta predates a knob newer code validates
    store.write_meta(spark, "plumb_meta", num_buckets=4, k=3)
    m = store.begin_build(spark, "plumb_meta", "append", (),
                          validate={"k": 3})
    assert int(m["num_buckets"]) == 4
    with pytest.raises(ValueError, match="predates knob"):
        store.begin_build(spark, "plumb_meta", "append", (),
                          validate={"k": 3, "max_bucket_size": 200})
    with pytest.raises(ValueError, match="would corrupt"):
        store.begin_build(spark, "plumb_meta", "append", (),
                          validate={"k": 5})
    _drop(spark, "plumb_meta_meta")


def test_tombstones_broadcast_hint_is_size_guarded(spark):
    _drop(spark, "plumb_ts_tombstones")
    assert store.tombstones(spark, "plumb_ts") is None
    spark.range(10).select(F.col("id")) \
        .write.mode("overwrite").format("parquet") \
        .bucketBy(2, "id").sortBy("id").saveAsTable("plumb_ts_tombstones")
    small = store.tombstones(spark, "plumb_ts")
    big = store.tombstones(spark, "plumb_ts", broadcast_rows=5)
    # the hint shows up as ResolvedHint/broadcast in the analyzed plan
    assert "broadcast" in small._jdf.queryExecution().analyzed() \
        .toString().lower()
    assert "broadcast" not in big._jdf.queryExecution().analyzed() \
        .toString().lower()
    # both still anti-join correctly
    probe = spark.range(20).select(F.col("id"))
    assert probe.join(small, "id", "left_anti").count() == 10
    assert probe.join(big, "id", "left_anti").count() == 10
    _drop(spark, "plumb_ts_tombstones")


def test_bm25_serving_pushes_query_terms_into_scans(spark):
    """The isin-literal pruning (r11): the distinct query-term list
    must reach BOTH bucketed parquet scans as a pushed filter — without
    it serving scans O(|vocab|) terms rows and O(corpus) postings rows
    per query batch (measured 3.6-5.6x per 10x corpus decade)."""
    from pipelinedp_spark.operators.retrieval import (bm25_topk_from_index,
                                                      build_bm25_index)
    _drop(spark, "plumb_bm25_postings", "plumb_bm25_terms",
          "plumb_bm25_meta")
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "alpha delta"), (2, "beta zeta")],
        "doc_id long, text string")
    build_bm25_index(docs, "plumb_bm25", num_buckets=2)
    q = spark.sql("SELECT 0 AS query_id, 'alpha zeta' AS query_text")
    out = bm25_topk_from_index(q, "plumb_bm25", k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re
    pushed = re.findall(r"PushedFilters: \[[^\]]*In\(term", plan)
    assert len(pushed) >= 2, plan   # terms scan AND postings scan
    got = {(r["query_id"], r["doc_id"]) for r in out.collect()}
    assert got == {(0, 0), (0, 1), (0, 2)}
    _drop(spark, "plumb_bm25_postings", "plumb_bm25_terms",
          "plumb_bm25_meta")


def test_apply_batch_once_run_id_namespaces(spark):
    """Batch ids are only unique within one checkpoint lineage: a NEW
    stream into the same store restarts at batch 0 and must NOT be
    skipped as a replay of the old stream's batch 0 — the guard keys
    on (run_id, batch_id). Legacy (pre-r11, batch-only) logs keep
    working in the '' namespace and keep their schema on append."""
    _drop(spark, "plumb_xo_ingest_log")
    hits = []
    assert store.apply_batch_once(spark, "plumb_xo", 0,
                                  lambda: hits.append("a"),
                                  run_id="/ckpt/streamA")
    # replay within the same lineage: suppressed
    assert not store.apply_batch_once(spark, "plumb_xo", 0,
                                      lambda: hits.append("a2"),
                                      run_id="/ckpt/streamA")
    # a NEW stream's batch 0: must apply
    assert store.apply_batch_once(spark, "plumb_xo", 0,
                                  lambda: hits.append("b"),
                                  run_id="/ckpt/streamB")
    # batch callers (default namespace) are independent too
    assert store.apply_batch_once(spark, "plumb_xo", 0,
                                  lambda: hits.append("c"))
    assert not store.apply_batch_once(spark, "plumb_xo", 0,
                                      lambda: hits.append("c2"))
    assert hits == ["a", "b", "c"]
    _drop(spark, "plumb_xo_ingest_log")
    # legacy log: batch-only schema, honored for default-namespace
    # callers (and schema preserved on append) — but a NAMESPACED
    # caller must fail loudly: the legacy log cannot say which lineage
    # its ids belong to, and both silent readings lose data
    spark.sql("SELECT CAST(0 AS BIGINT) AS batch_id") \
        .write.mode("overwrite").format("parquet") \
        .saveAsTable("plumb_xo_ingest_log")
    assert not store.apply_batch_once(spark, "plumb_xo", 0,
                                      lambda: hits.append("d"))
    assert store.apply_batch_once(spark, "plumb_xo", 1,
                                  lambda: hits.append("e"))
    with pytest.raises(ValueError, match="predates run-id"):
        store.apply_batch_once(spark, "plumb_xo", 2,
                               lambda: hits.append("f"),
                               run_id="/ckpt/streamA")
    spark.catalog.refreshTable("plumb_xo_ingest_log")
    assert spark.table("plumb_xo_ingest_log").columns == ["batch_id"]
    assert hits == ["a", "b", "c", "e"]
    _drop(spark, "plumb_xo_ingest_log")


def test_rebuild_clears_tombstones_and_ingest_log(spark):
    """mode='overwrite' defines a new corpus truth: old takedowns and
    old stream batch ids must not survive into the rebuilt store."""
    from pipelinedp_spark.operators.dedup import (
        build_exact_store, incremental_exact_dedup,
        remove_from_exact_store)
    tables = ("plumb_rb_fps", "plumb_rb_meta", "plumb_rb_tombstones",
              "plumb_rb_ingest_log")
    _drop(spark, *tables)
    docs = spark.createDataFrame([(0, "alpha text"), (1, "beta text")],
                                 "doc_id long, text string")
    build_exact_store(docs, "plumb_rb", num_buckets=2)
    remove_from_exact_store(docs.filter("doc_id = 0"), "plumb_rb")
    store.apply_batch_once(spark, "plumb_rb", 0, lambda: None)
    assert spark.catalog.tableExists("plumb_rb_tombstones")
    assert spark.catalog.tableExists("plumb_rb_ingest_log")
    # rebuild: the SAME corpus is indexed fresh — the old takedown must
    # not keep hiding alpha, and batch 0 must apply again
    build_exact_store(docs, "plumb_rb", num_buckets=2)
    assert not spark.catalog.tableExists("plumb_rb_tombstones")
    assert not spark.catalog.tableExists("plumb_rb_ingest_log")
    batch = docs.select((F.col("doc_id") + 100).alias("doc_id"), "text")
    assert incremental_exact_dedup(batch, "plumb_rb").count() == 0
    assert store.apply_batch_once(spark, "plumb_rb", 0, lambda: None)
    _drop(spark, *tables)
