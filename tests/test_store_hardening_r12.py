"""Round-12 failure-hardening contracts for the store family.

1. CONVERGENT crash recovery (VERDICT r11 task 2): a crash between a
   micro-batch's apply and its ingest-log write — injected at the real
   boundary by failing the log table's ``saveAsTable`` — must leave
   the store recoverable by simply RE-RUNNING the batch (which is what
   Structured Streaming does: the checkpoint never committed). The
   re-run detects the provenance-stamped half-applied rows, rolls them
   back, restores derived state (BM25 meta scalars), and applies
   fresh — ending bit-identical to a crash-free run. Covered for BM25
   (the multiplicity-critical kind, full-apply AND mid-apply crash
   points) and exact (an anti-join kind), then for every remaining
   kind (near-dup, ann, span, phash).

2. BOUNDED ingest log (VERDICT r11 task 1): >= 50 guarded batches with
   a compaction mid-stream; replays are suppressed before AND after
   the fold; the folded log is one range row per lineage in one file.

3. Orphaned-ingest-log loudness (ADVICE r11): log files on disk with
   no catalog entry next to a LIVE store = lost replay-suppression
   history -> fail with a rebuild remedy; a fully orphaned store
   (no meta either) keeps the silent cleanup.

4. pHash append-mode legacy guard (ADVICE r11): appending to a store
   that predates the ``_members`` table must raise instead of
   append-creating an incomplete members table that silently no-ops
   takedowns of pre-append images.
"""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from pipelinedp_spark import store
from pipelinedp_spark.operators.dedup import build_exact_store
from pipelinedp_spark.operators.retrieval import (bm25_topk_from_index,
                                                  build_bm25_index)

pytestmark = pytest.mark.store


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _drop(spark, names):
    for t in names:
        store.drop_store_table(spark, t)


def _crash_on(monkeypatch, table: str):
    """Fault injection at the real boundary: the next write of `table`
    raises, emulating a process death at exactly that write. Both
    write paths are armed — the Spark ``saveAsTable`` AND the
    driver-side parquet fast path an existing file-backed ingest log
    takes (`store._append_log_row`)."""
    orig = DataFrameWriter.saveAsTable

    def boom(self, name, *a, **k):
        if name == table:
            raise RuntimeError(f"injected crash at {name}")
        return orig(self, name, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "saveAsTable", boom)

    orig_append = store._append_log_row

    def boom_append(spark, log_table, *a, **k):
        if log_table == table:
            raise RuntimeError(f"injected crash at {log_table}")
        return orig_append(spark, log_table, *a, **k)

    monkeypatch.setattr(store, "_append_log_row", boom_append)


def _bm25_rows(spark, name, queries):
    out = bm25_topk_from_index(queries, name, k=5)
    return sorted(map(tuple, out.collect()))


BM25_A = [(0, "spark shuffle exchange plan"),
          (1, "parquet scan pushdown filter"),
          (2, "broadcast join hint plan")]
BM25_B = [(3, "shuffle partitions adaptive plan"),
          (4, "bucketed join zero exchange")]

BM25_TABLES = ["hd_bm25_postings", "hd_bm25_terms", "hd_bm25_meta",
               "hd_bm25_ingest_log", "hd_ref_postings", "hd_ref_terms",
               "hd_ref_meta"]


@pytest.fixture()
def bm25_queries(spark):
    return spark.createDataFrame(
        [(0, "shuffle plan"), (1, "join exchange")],
        "query_id long, query_text string")


def _bm25_reference(spark, queries):
    """Serve scores from a crash-free build-once index over A + B."""
    build_bm25_index(_docs(spark, BM25_A + BM25_B), "hd_ref",
                     num_buckets=2)
    want = _bm25_rows(spark, "hd_ref", queries)
    assert want
    return want


def test_bm25_crash_before_log_write_converges(spark, monkeypatch,
                                               bm25_queries):
    """Crash AFTER the full apply (postings+terms+meta landed) but
    before the ingest-log row: the re-run must roll the batch back and
    re-apply — double-applied tf/df/scalars would corrupt every
    score, so equality with build-once is the whole proof."""
    _drop(spark, BM25_TABLES)
    want = _bm25_reference(spark, bm25_queries)
    build_bm25_index(_docs(spark, BM25_A), "hd_bm25", num_buckets=2)
    assert store.ingest_batch_once(
        "bm25", _docs(spark, []).limit(0), "hd_bm25", 0, run_id="ck")
    _crash_on(monkeypatch, "hd_bm25_ingest_log")
    with pytest.raises(RuntimeError, match="injected crash"):
        store.ingest_batch_once("bm25", _docs(spark, BM25_B), "hd_bm25",
                                1, run_id="ck")
    monkeypatch.undo()
    # the batch IS in the tables (apply completed) but unconfirmed
    spark.catalog.refreshTable("hd_bm25_postings")
    assert (spark.table("hd_bm25_postings")
            .filter(F.col(store.PROV_BATCH) == 1).count() > 0)
    # Structured Streaming replays the uncommitted batch on resume:
    assert store.ingest_batch_once("bm25", _docs(spark, BM25_B),
                                   "hd_bm25", 1, run_id="ck")
    assert _bm25_rows(spark, "hd_bm25", bm25_queries) == want
    # and the re-applied batch is now confirmed — a further replay
    # is a pure no-op
    assert not store.ingest_batch_once("bm25", _docs(spark, BM25_B),
                                       "hd_bm25", 1, run_id="ck")
    assert _bm25_rows(spark, "hd_bm25", bm25_queries) == want
    _drop(spark, BM25_TABLES)


def test_bm25_crash_mid_apply_converges(spark, monkeypatch,
                                        bm25_queries):
    """Crash MID-apply (postings landed, terms/meta did not): the
    partial state must also roll back cleanly on re-run."""
    _drop(spark, BM25_TABLES)
    want = _bm25_reference(spark, bm25_queries)
    build_bm25_index(_docs(spark, BM25_A), "hd_bm25", num_buckets=2)
    _crash_on(monkeypatch, "hd_bm25_terms")
    with pytest.raises(RuntimeError, match="injected crash"):
        store.ingest_batch_once("bm25", _docs(spark, BM25_B), "hd_bm25",
                                1, run_id="ck")
    monkeypatch.undo()
    assert store.ingest_batch_once("bm25", _docs(spark, BM25_B),
                                   "hd_bm25", 1, run_id="ck")
    assert _bm25_rows(spark, "hd_bm25", bm25_queries) == want
    _drop(spark, BM25_TABLES)


def test_bm25_compaction_repairs_crashed_batch(spark, monkeypatch,
                                               bm25_queries):
    """A half-applied batch whose stream NEVER resumed: compaction
    rolls its orphaned rows back (the checkpoint never committed the
    batch, so a later resume replays it fresh) and re-derives
    terms/meta — the compacted store serves exactly the confirmed
    batches; the replay after compaction then applies fresh."""
    _drop(spark, BM25_TABLES)
    want = _bm25_reference(spark, bm25_queries)
    build_bm25_index(_docs(spark, BM25_A), "hd_bm25", num_buckets=2)
    want_a_only = _bm25_rows(spark, "hd_bm25", bm25_queries)
    _crash_on(monkeypatch, "hd_bm25_ingest_log")
    with pytest.raises(RuntimeError, match="injected crash"):
        store.ingest_batch_once("bm25", _docs(spark, BM25_B), "hd_bm25",
                                1, run_id="ck")
    monkeypatch.undo()
    store.compact(spark, "hd_bm25", "bm25")
    assert _bm25_rows(spark, "hd_bm25", bm25_queries) == want_a_only
    assert store.ingest_batch_once("bm25", _docs(spark, BM25_B),
                                   "hd_bm25", 1, run_id="ck")
    assert _bm25_rows(spark, "hd_bm25", bm25_queries) == want
    _drop(spark, BM25_TABLES)


EXACT_TABLES = ["hd_ex_fps", "hd_ex_meta", "hd_ex_ingest_log",
                "hd_exref_fps", "hd_exref_meta"]


def test_exact_crash_before_log_write_converges(spark, monkeypatch):
    """Anti-join kind: a crash between the fps append and the log row
    must re-run to the build-once store AND re-deliver the batch's
    survivors to the sink (without rollback the re-run's anti-join
    would see the crashed attempt's own fingerprints and emit
    NOTHING — the batch's output would be silently lost)."""
    _drop(spark, EXACT_TABLES)
    b0 = [(0, "alpha text"), (1, "beta text")]
    b1 = [(2, "gamma text"), (3, "alpha text")]
    build_exact_store(_docs(spark, b0), "hd_ex", num_buckets=2)
    outs = []
    _crash_on(monkeypatch, "hd_ex_ingest_log")
    with pytest.raises(RuntimeError, match="injected crash"):
        store.ingest_batch_once(
            "exact", _docs(spark, b1), "hd_ex", 0, run_id="ck",
            sink=lambda s: outs.append(
                sorted(r["doc_id"] for r in s.collect())))
    monkeypatch.undo()
    assert outs == [[2]]   # the crashed attempt reached the sink
    assert store.ingest_batch_once(
        "exact", _docs(spark, b1), "hd_ex", 0, run_id="ck",
        sink=lambda s: outs.append(
            sorted(r["doc_id"] for r in s.collect())))
    # rollback let the re-run recompute (and re-deliver) the batch's
    # survivors — the documented at-least-once residual for the SINK,
    # exactly-once for the store:
    assert outs == [[2], [2]]
    build_exact_store(_docs(spark, b0 + b1), "hd_exref",
                      num_buckets=2)
    got = {r["fingerprint"]
           for r in spark.table("hd_ex_fps").collect()}
    want = {r["fingerprint"]
            for r in spark.table("hd_exref_fps").collect()}
    assert got == want
    # replay is now a pure no-op
    assert not store.ingest_batch_once(
        "exact", _docs(spark, b1), "hd_ex", 0, run_id="ck",
        sink=lambda s: outs.append("never"))
    assert outs == [[2], [2]]
    _drop(spark, EXACT_TABLES)


ND_TABLES = ["hd_nd_bands", "hd_nd_shingles", "hd_nd_meta",
             "hd_nd_ingest_log", "hd_ndref_bands", "hd_ndref_shingles",
             "hd_ndref_meta"]


def test_near_dup_crash_before_log_write_converges(spark, monkeypatch):
    """MinHash kind: without rollback, the re-run would anti-match the
    batch against its OWN crashed attempt's bands — every doc reads as
    a near-dup of itself and the sink silently receives NOTHING (the
    batch's output is lost). With provenance rollback the re-run ends
    at the build-once store and re-delivers the survivors."""
    from pipelinedp_spark.operators.dedup import build_minhash_store
    _drop(spark, ND_TABLES)
    alpha = "the quick brown fox jumps over the lazy dog again"
    beta = "a completely different document about spark physical plans"
    build_minhash_store(_docs(spark, [(0, alpha)]), "hd_nd",
                        num_buckets=2)
    outs = []
    b1 = [(5, beta), (6, alpha)]
    _crash_on(monkeypatch, "hd_nd_ingest_log")
    with pytest.raises(RuntimeError, match="injected crash"):
        store.ingest_batch_once(
            "minhash", _docs(spark, b1), "hd_nd", 0, jaccard_threshold=0.7,
            run_id="ck",
            sink=lambda s: outs.append(
                sorted(r["doc_id"] for r in s.collect())))
    monkeypatch.undo()
    assert outs == [[5]]   # beta survived, alpha deduped vs doc 0
    assert store.ingest_batch_once(
        "minhash", _docs(spark, b1), "hd_nd", 0, jaccard_threshold=0.7,
        run_id="ck",
        sink=lambda s: outs.append(
            sorted(r["doc_id"] for r in s.collect())))
    # re-delivered, NOT self-deduped to nothing
    assert outs == [[5], [5]]
    build_minhash_store(_docs(spark, [(0, alpha), (5, beta)]),
                        "hd_ndref", num_buckets=2)
    got = spark.table("hd_nd_bands").select("id", "bh").collect()
    want = spark.table("hd_ndref_bands").select("id", "bh").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert not store.ingest_batch_once(
        "minhash", _docs(spark, b1), "hd_nd", 0, run_id="ck",
        sink=lambda s: outs.append("never"))
    assert outs == [[5], [5]]
    _drop(spark, ND_TABLES)


def _vectors(spark, lo, hi):
    """Rows lo..hi-1 of a fixed random 16-dim embedding set."""
    import numpy as np
    x = np.random.default_rng(7).normal(size=(hi, 16)).astype("float32")
    return spark.createDataFrame(
        [(i, x[i].tolist()) for i in range(lo, hi)],
        "vec_id long, embedding array<float>")


def _texts(spark, n):
    """n documents of 12-20 words from a small vocabulary, so the
    reference shares spans and shingles across documents."""
    import random
    rnd = random.Random(11)
    words = ["spark", "shuffle", "bucket", "join", "plan", "scan",
             "filter", "exchange", "partition", "window", "stream",
             "batch"]
    rows = [(i, " ".join(rnd.choice(words)
                         for _ in range(rnd.randint(12, 20))))
            for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, text string")


# (build(store_name), batch) per kind: the store is built from base
# rows, then ingests ``batch`` as one guarded micro-batch.
def _ann_case(spark):
    from pipelinedp_spark.operators import similarity as S
    base = _vectors(spark, 0, 100).localCheckpoint()
    x = S.sample_corpus_matrix(base, "vec_id", "embedding", 10_000)
    models = dict(centroids=S.train_ivf_centroids(x, 4, 7),
                  codebooks=S.train_pq_codebooks(x, 4, 16, 7))
    return (lambda n: S.build_ann_index(base, n, num_cells=4, m=4,
                                        ksub=16, **models),
            _vectors(spark, 100, 140))


def _span_case(spark):
    from pipelinedp_spark.operators.dedup import build_span_store
    docs = _texts(spark, 40).localCheckpoint()
    return (lambda n: build_span_store(
                docs.filter(F.col("doc_id") % 2 == 0), n, min_len=50,
                num_buckets=2),
            docs.filter(F.col("doc_id") % 2 != 0))


def _phash_case(spark):
    import numpy as np
    import pandas as pd

    from pipelinedp_spark.operators import multimodal as MM

    def gen(it):
        i, j = np.meshgrid(np.arange(32), np.arange(32), indexing="ij")
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame({"doc_id": ids, "image": [MM.encode_bmp(
                ((i * ((int(d) % 4) + 2) + j) % 200).astype(np.uint8))
                for d in ids]})

    # 4 visual families; the batch re-hits the base's families
    imgs = (spark.range(12).select(F.col("id").alias("doc_id"))
            .mapInPandas(gen, "doc_id long, image binary")
            .localCheckpoint())
    return (lambda n: MM.build_phash_store(
                imgs.filter(F.col("doc_id") < 6), n, num_buckets=2),
            imgs.filter(F.col("doc_id") >= 6))


_CRASH_CASES = {"ann": _ann_case, "span": _span_case,
                "phash": _phash_case}


def _table_rows(spark, table):
    store.refresh_table(spark, table)
    return sorted(map(repr, spark.table(table)
                      .drop(store.PROV_RUN, store.PROV_BATCH).collect()))


@pytest.mark.parametrize("kind", sorted(_CRASH_CASES))
def test_crash_before_log_write_converges_for_every_kind(spark,
                                                        monkeypatch,
                                                        kind):
    """The crash-before-log-write convergence above, for the kinds it
    did not cover: after a crash at ``{store}_ingest_log`` the re-run
    applies, every stamped table of the kind (minus the stamps) equals
    a crash-free build + ingest of the same rows, and a further replay
    is skipped."""
    build, batch = _CRASH_CASES[kind](spark)
    name, ref = f"hd_ck_{kind}", f"hd_ckref_{kind}"
    suffixes = ("_meta", "_ingest_log", "_centroids", "_codebooks",
                *store.KINDS[kind].tables)
    names = [n + sfx for n in (name, ref) for sfx in suffixes]
    _drop(spark, names)
    build(name)
    build(ref)
    assert store.ingest_batch_once(kind, batch, ref, 0, run_id="ck")
    _crash_on(monkeypatch, f"{name}_ingest_log")
    with pytest.raises(RuntimeError, match="injected crash"):
        store.ingest_batch_once(kind, batch, name, 0, run_id="ck")
    monkeypatch.undo()
    first = name + next(iter(store.KINDS[kind].tables))
    store.refresh_table(spark, first)
    assert (spark.table(first)
            .filter(F.col(store.PROV_BATCH) == 0).count() > 0)
    assert store.ingest_batch_once(kind, batch, name, 0, run_id="ck")
    for sfx in store.KINDS[kind].tables:
        assert (_table_rows(spark, name + sfx)
                == _table_rows(spark, ref + sfx)), sfx
    assert not store.ingest_batch_once(kind, batch, name, 0,
                                       run_id="ck")
    _drop(spark, names)


LOG_TABLES = ["hd_log_fps", "hd_log_meta", "hd_log_ingest_log"]


def test_ingest_log_folds_and_stays_exact_across_50_batches(spark):
    """VERDICT r11 task 1 'done' criterion: >= 50 batches with a
    compaction mid-stream; replays suppressed before AND after the
    fold; final log = one contiguous range row per lineage, one file."""
    _drop(spark, LOG_TABLES)
    build_exact_store(_docs(spark, []).limit(0), "hd_log",
                      num_buckets=2)
    for b in range(25):
        assert store.ingest_batch_once(
            "exact", _docs(spark, [(b, f"doc number {b} body")]), "hd_log", b,
            run_id="ckA")
    store.compact(spark, "hd_log", "exact")
    log = spark.table("hd_log_ingest_log")
    assert log.count() == 1
    assert [tuple(r) for r in
            log.select("batch_id", "run_id", "hi").collect()] \
        == [(0, "ckA", 24)]
    # replay of a batch INSIDE the folded range: still suppressed
    assert not store.ingest_batch_once(
        "exact", _docs(spark, [(5, "doc number 5 body")]), "hd_log", 5,
        run_id="ckA")
    for b in range(25, 50):
        assert store.ingest_batch_once(
            "exact", _docs(spark, [(b, f"doc number {b} body")]), "hd_log", b,
            run_id="ckA")
    # a second lineage interleaves without colliding
    assert store.ingest_batch_once(
        "exact", _docs(spark, [(1000, "second stream doc")]), "hd_log", 0,
        run_id="ckB")
    assert not store.ingest_batch_once(
        "exact", _docs(spark, [(1000, "second stream doc")]), "hd_log", 0,
        run_id="ckB")
    store.compact(spark, "hd_log", "exact")
    spark.catalog.refreshTable("hd_log_ingest_log")
    log = spark.table("hd_log_ingest_log")
    got = {tuple(r) for r in
           log.select("run_id", "batch_id", "hi").collect()}
    assert got == {("ckA", 0, 49), ("ckB", 0, 0)}
    loc = store._managed_location(spark, "hd_log_ingest_log")
    files = [f for f in os.listdir(loc) if f.endswith(".parquet")]
    assert len(files) == 1
    # suppression still exact after the second fold
    assert not store.ingest_batch_once(
        "exact", _docs(spark, [(30, "doc number 30 body")]), "hd_log", 30,
        run_id="ckA")
    assert store.ingest_batch_once(
        "exact", _docs(spark, [(50, "doc number 50 body")]), "hd_log", 50,
        run_id="ckA")
    spark.catalog.refreshTable("hd_log_fps")
    assert spark.table("hd_log_fps").count() == 52
    _drop(spark, LOG_TABLES)


def test_legacy_log_folds_without_gaining_run_id(spark):
    """A pre-r11 batch-only log folds to (batch_id, hi) — it must NOT
    gain a run_id column, or the loud legacy-log-vs-namespaced-caller
    failure would silently stop firing after compaction. Non-contiguous
    ids fold to one range per island."""
    _drop(spark, LOG_TABLES)
    build_exact_store(_docs(spark, [(0, "seed doc text")]), "hd_log",
                      num_buckets=2)
    spark.createDataFrame([(0,), (1,), (2,), (5,), (6,)],
                          "batch_id long") \
        .write.mode("overwrite").format("parquet") \
        .saveAsTable("hd_log_ingest_log")
    store.compact(spark, "hd_log", "exact")
    log = spark.table("hd_log_ingest_log")
    assert log.columns == ["batch_id", "hi"]
    assert {tuple(r) for r in log.collect()} == {(0, 2), (5, 6)}
    # the gap (batch 3) was never applied and must still apply
    assert store.apply_batch_once(spark, "hd_log", 3, lambda: None)
    assert not store.apply_batch_once(spark, "hd_log", 6, lambda: None)
    with pytest.raises(ValueError, match="predates run-id"):
        store.apply_batch_once(spark, "hd_log", 9, lambda: None,
                               run_id="ck")
    _drop(spark, LOG_TABLES)


def test_orphaned_ingest_log_fails_loudly_next_to_live_store(spark):
    """ADVICE r11: log files on disk with no catalog entry while the
    store's other tables EXIST = lost replay-suppression history; a
    silent cleanup would let a source replay double-apply. The fully
    orphaned store (no meta either) keeps the silent cleanup."""
    import shutil
    _drop(spark, LOG_TABLES)
    build_exact_store(_docs(spark, [(0, "seed doc text")]), "hd_log",
                      num_buckets=2)
    assert store.apply_batch_once(spark, "hd_log", 0, lambda: None)
    loc = store._managed_location(spark, "hd_log_ingest_log")
    shutil.copytree(loc, loc + ".bak")
    spark.sql("DROP TABLE hd_log_ingest_log")   # catalog dies, files…
    shutil.rmtree(loc, ignore_errors=True)
    shutil.move(loc + ".bak", loc)              # …persist (orphan)
    with pytest.raises(ValueError, match="orphaned ingest log"):
        store.apply_batch_once(spark, "hd_log", 1, lambda: None)
    # whole store orphaned (meta gone too): silent cleanup is safe
    spark.sql("DROP TABLE hd_log_meta")
    spark.sql("DROP TABLE hd_log_fps")
    assert store.apply_batch_once(spark, "hd_log", 1, lambda: None)
    _drop(spark, LOG_TABLES)


def test_size_gate_confs_flip_the_fallback_branches(spark):
    """The size-gated paths are conf-tunable so the oracle gate can
    force the fallback branch at sf0.01 (VERDICT r11 task 3):
    `spark.pipelinedp.store.tombstoneBroadcastRows` gates the
    tombstone broadcast hint, `spark.pipelinedp.bm25.termPushdownCap`
    gates the isin() literal pushdown vs the broadcast-join serving
    plan. This pins the BRANCH; the new oracle queries
    (doc_bm25_takedown_jumbo / doc_bm25_bigterms_topk) pin the
    VALUES."""
    _drop(spark, ["hd_gate_tombstones"])
    spark.createDataFrame([(i,) for i in range(10)], "id long") \
        .write.format("parquet").bucketBy(2, "id").sortBy("id") \
        .saveAsTable("hd_gate_tombstones")
    ts_knob = "spark.pipelinedp.store.tombstoneBroadcastRows"
    try:
        spark.conf.set(ts_knob, "3")
        store._TS_SIZE_CACHE.clear()
        big = store.tombstones(spark, "hd_gate")
        assert "broadcast" not in (big._jdf.queryExecution()
                                   .analyzed().toString().lower())
        spark.conf.set(ts_knob, "100")
        big = store.tombstones(spark, "hd_gate")
        assert "broadcast" in (big._jdf.queryExecution()
                               .analyzed().toString().lower())
    finally:
        spark.conf.unset(ts_knob)
        _drop(spark, ["hd_gate_tombstones"])

    _drop(spark, ["hd_gate2_postings", "hd_gate2_terms",
                  "hd_gate2_meta"])
    build_bm25_index(_docs(spark, BM25_A), "hd_gate2", num_buckets=2)
    q = spark.createDataFrame([(0, "spark shuffle plan")],
                              "query_id long, query_text string")
    cap_knob = "spark.pipelinedp.bm25.termPushdownCap"
    try:
        plan_push = bm25_topk_from_index(q, "hd_gate2", k=3) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "In(term" in plan_push   # pushdown branch (default cap)
        spark.conf.set(cap_knob, "2")
        plan_big = bm25_topk_from_index(q, "hd_gate2", k=3) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "In(term" not in plan_big   # fallback broadcast branch
    finally:
        spark.conf.unset(cap_knob)
        _drop(spark, ["hd_gate2_postings", "hd_gate2_terms",
                      "hd_gate2_meta"])


def test_phash_append_to_pre_members_store_raises(spark):
    """ADVICE r11 (medium): mode='append' on a store built before the
    _members table must fail loudly — an append-created members table
    would hold only the new batch, and a takedown of any pre-append
    image would silently no-op (its hash keeps flagging dups)."""
    from pipelinedp_spark.operators import multimodal as MM
    from tests.test_store_exactly_once_r11 import _images
    tables = ["hd_ph_blocks", "hd_ph_members", "hd_ph_meta"]
    _drop(spark, tables)
    imgs = _images(spark, 8)
    MM.build_phash_store(imgs, "hd_ph", num_buckets=2)
    spark.sql("DROP TABLE hd_ph_members")   # emulate a pre-r11 store
    with pytest.raises(ValueError, match="predates per-image"):
        MM.build_phash_store(imgs, "hd_ph", num_buckets=2,
                             mode="append")
    _drop(spark, tables)


def test_gappy_log_folds_to_islands_and_suppression_is_exact(spark):
    """Randomized (seeded) island fold: a non-contiguous applied set
    must fold to exactly its contiguous islands, suppress every member
    and admit every gap AFTER the fold, and re-fold to one row once
    the gaps are applied — the property the 50-batch contiguous test
    cannot see. Two interleaved lineages with different gap patterns
    guard the PARTITION BY run_id in the interval merge."""
    import random
    _drop(spark, ["hd_gap_ingest_log"])
    rng = random.Random(7)
    applied = {
        "ckA": sorted(rng.sample(range(40), 23)),
        "ckB": sorted(rng.sample(range(30), 11)),
    }
    rows = [(b, r) for r, bs in applied.items() for b in bs]
    rng.shuffle(rows)
    spark.createDataFrame(
        [(b, r, None) for b, r in rows],
        "batch_id long, run_id string, hi long") \
        .write.mode("overwrite").format("parquet") \
        .saveAsTable("hd_gap_ingest_log")
    store.compact_ingest_log(spark, "hd_gap")

    def islands(bs):
        out, lo, prev = [], bs[0], bs[0]
        for b in bs[1:]:
            if b > prev + 1:
                out.append((lo, prev))
                lo = b
            prev = b
        out.append((lo, prev))
        return out

    log = spark.table("hd_gap_ingest_log")
    got = {(r["run_id"], r["batch_id"], r["hi"])
           for r in log.collect()}
    want = {(rid, lo, hi) for rid, bs in applied.items()
            for lo, hi in islands(bs)}
    assert got == want
    # suppression after the fold: every member suppressed, every gap
    # inside [min, max] admitted (each admit appends a confirming row,
    # which is exactly the resume-after-gap semantics)
    for rid, bs in applied.items():
        for b in bs:
            assert not store.apply_batch_once(
                spark, "hd_gap", b, lambda: None, run_id=rid)
        for b in range(bs[0], bs[-1] + 1):
            if b not in bs:
                assert store.apply_batch_once(
                    spark, "hd_gap", b, lambda: None, run_id=rid)
    # with the gaps applied the lineages re-fold to ONE row each
    store.compact_ingest_log(spark, "hd_gap")
    spark.catalog.refreshTable("hd_gap_ingest_log")
    got = {tuple(r) for r in spark.table("hd_gap_ingest_log")
           .select("run_id", "batch_id", "hi").collect()}
    assert got == {(rid, bs[0], bs[-1]) for rid, bs in applied.items()}
    _drop(spark, ["hd_gap_ingest_log"])


def _table_files(spark, table):
    loc = store._managed_location(spark, table)
    return {f for f in os.listdir(loc) if f.endswith(".parquet")}


def test_crash_rollback_is_file_level_not_a_rewrite(spark, monkeypatch):
    """The O(crashed batch) property: rolling back a half-applied
    batch deletes exactly the files that append wrote (constant
    provenance stamps -> per-file footer stats prove all-batch) and
    leaves every earlier file UNTOUCHED — at production store sizes a
    full rewrite to shed one micro-batch would dwarf the batch."""
    _drop(spark, EXACT_TABLES)
    build_exact_store(_docs(spark, [(0, "alpha text")]), "hd_ex",
                      num_buckets=2)
    assert store.ingest_batch_once(
        "exact", _docs(spark, [(1, "beta text")]), "hd_ex", 0, run_id="ck")
    before = _table_files(spark, "hd_ex_fps")
    _crash_on(monkeypatch, "hd_ex_ingest_log")
    with pytest.raises(RuntimeError, match="injected crash"):
        store.ingest_batch_once(
            "exact", _docs(spark, [(2, "gamma text")]), "hd_ex", 1,
            run_id="ck")
    monkeypatch.undo()
    assert store.ingest_batch_once(
        "exact", _docs(spark, [(2, "gamma text")]), "hd_ex", 1, run_id="ck")
    after = _table_files(spark, "hd_ex_fps")
    # every pre-crash file survived by NAME: the rollback deleted only
    # the crashed attempt's own files (a rewrite would replace all)
    assert before <= after
    build_exact_store(_docs(spark, [(0, "alpha text"),
                                    (1, "beta text"),
                                    (2, "gamma text")]),
                      "hd_exref", num_buckets=2)
    got = {r["fingerprint"] for r in spark.table("hd_ex_fps").collect()}
    want = {r["fingerprint"]
            for r in spark.table("hd_exref_fps").collect()}
    assert got == want
    _drop(spark, EXACT_TABLES)


def test_crash_rollback_rewrite_fallback_converges(spark, monkeypatch,
                                                   bm25_queries):
    """When files can't be classified (non-file warehouse stand-in:
    _managed_location -> None) the rollback falls back to the
    layout-preserving rewrite and still converges bit-identically."""
    _drop(spark, BM25_TABLES)
    want = _bm25_reference(spark, bm25_queries)
    build_bm25_index(_docs(spark, BM25_A), "hd_bm25", num_buckets=2)
    _crash_on(monkeypatch, "hd_bm25_ingest_log")
    with pytest.raises(RuntimeError, match="injected crash"):
        store.ingest_batch_once("bm25", _docs(spark, BM25_B), "hd_bm25",
                                1, run_id="ck")
    monkeypatch.undo()
    monkeypatch.setattr(store, "_batch_files",
                        lambda *a, **k: None)
    assert store.ingest_batch_once("bm25", _docs(spark, BM25_B),
                                   "hd_bm25", 1, run_id="ck")
    monkeypatch.undo()
    assert _bm25_rows(spark, "hd_bm25", bm25_queries) == want
    _drop(spark, BM25_TABLES)


def test_happy_path_skips_rollback_probe(spark, monkeypatch):
    """Steady-state guarded ingest must not pay the half-applied
    rollback probe per batch: after this process cleanly applies a
    batch for a lineage, later (monotone) batch ids skip it; a replay
    is suppressed before it; an apply/log exception clears the memo so
    the same-process retry probes again."""
    _drop(spark, EXACT_TABLES)
    build_exact_store(_docs(spark, [(0, "alpha text")]), "hd_ex",
                      num_buckets=2)
    calls = []
    orig = store._clean_half_applied

    def spy(*a, **k):
        calls.append(a[3])
        return orig(*a, **k)

    monkeypatch.setattr(store, "_clean_half_applied", spy)
    for b in (0, 1, 2):
        assert store.ingest_batch_once(
            "exact", _docs(spark, [(10 + b, f"text {b}")]), "hd_ex", b,
            run_id="ck")
    assert calls == [0]   # only the first in-process batch probed
    assert not store.ingest_batch_once(
        "exact", _docs(spark, [(11, "text 1")]), "hd_ex", 1, run_id="ck")
    assert calls == [0]   # replay suppressed before any probe
    _crash_on(monkeypatch, "hd_ex_ingest_log")
    with pytest.raises(RuntimeError, match="injected crash"):
        store.ingest_batch_once(
            "exact", _docs(spark, [(13, "text 3")]), "hd_ex", 3, run_id="ck")
    # undo clears the crash AND the spy; re-attach the spy
    monkeypatch.undo()
    monkeypatch.setattr(store, "_clean_half_applied", spy)
    assert store.ingest_batch_once(
        "exact", _docs(spark, [(13, "text 3")]), "hd_ex", 3, run_id="ck")
    assert calls == [0, 3]   # in-process retry probed (memo cleared)
    assert store.ingest_batch_once(
        "exact", _docs(spark, [(14, "text 4")]), "hd_ex", 4, run_id="ck")
    assert calls == [0, 3]   # monotone path elides again
    _drop(spark, EXACT_TABLES)


def test_log_fold_is_crash_safe_append_then_delete(spark, monkeypatch):
    """The fold appends covering range rows BEFORE deleting old files,
    so a crash between the two leaves a correct (duplicately covered)
    log instead of silently LOSING it — the overwrite rewrite's
    drop-recreate window would double-apply a whole stream on resume.
    The intermediate state suppresses exactly, and the next fold
    converges to one row in one file."""
    _drop(spark, LOG_TABLES)
    build_exact_store(_docs(spark, []).limit(0), "hd_log",
                      num_buckets=2)
    for b in range(10):
        assert store.apply_batch_once(spark, "hd_log", b,
                                      lambda: None, run_id="ckA")
    # inject the crash: the delete leg never runs
    monkeypatch.setattr(os, "remove", lambda p: None)
    store.compact_ingest_log(spark, "hd_log")
    monkeypatch.undo()
    spark.catalog.refreshTable("hd_log_ingest_log")
    log = spark.table("hd_log_ingest_log")
    assert log.count() == 11   # 10 per-batch rows + the covering fold
    # intermediate state: suppression exact, new batches still apply
    for b in range(10):
        assert not store.apply_batch_once(spark, "hd_log", b,
                                          lambda: None, run_id="ckA")
    assert store.apply_batch_once(spark, "hd_log", 10, lambda: None,
                                  run_id="ckA")
    # the next fold (this time completing) converges
    store.compact_ingest_log(spark, "hd_log")
    spark.catalog.refreshTable("hd_log_ingest_log")
    log = spark.table("hd_log_ingest_log")
    assert [tuple(r) for r in
            log.select("batch_id", "run_id", "hi").collect()] \
        == [(0, "ckA", 10)]
    loc = store._managed_location(spark, "hd_log_ingest_log")
    assert len([f for f in os.listdir(loc)
                if f.endswith(".parquet")]) == 1
    _drop(spark, LOG_TABLES)
