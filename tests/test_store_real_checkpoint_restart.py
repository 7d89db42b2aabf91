"""Real StreamingQuery restart-from-checkpoint contracts.

Every prior exactly-once test drives the shared ``ingest_*_batch_
idempotent`` bodies DIRECTLY (hand-picked batch ids, hand-simulated
replays). These tests drive the actual Structured Streaming machinery
instead: a file-source stream started with ``availableNow``, stopped,
and RESTARTED against the same checkpoint directory — so the batch ids
the ``{store}_ingest_log`` guard records are the ones Spark's offset
log actually assigns across restarts, and the retry-after-crash path
is Spark's own uncommitted-batch replay, not a hand-called function.

Contracts pinned:

* restart processes ONLY new source files (checkpoint offsets hold),
  and the store after two runs equals a single-run ingest of all data;
* a restart with nothing new applies no batch (log, store, and output
  are byte-stable);
* a batch that CRASHES mid-apply (fault injected at the ingest-log
  write, exactly the apply-then-log window) fails the query; the
  restart replays the SAME batch id through the real commit-log retry
  and convergent rollback makes the result equal to a crash-free
  build-once index — for BM25, the kind where a double-apply corrupts
  every score.
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from pipelinedp_spark import store
from pipelinedp_spark.operators.dedup import build_exact_store
from pipelinedp_spark.operators.retrieval import (bm25_topk_from_index,
                                                  build_bm25_index)
from pipelinedp_spark.streaming.dp_streaming import stream_into

pytestmark = pytest.mark.store

SCHEMA = "doc_id long, text string"


def _write_source(spark, path, rows):
    (spark.createDataFrame(rows, SCHEMA)
     .coalesce(1).write.mode("append").parquet(str(path)))


def _stream(spark, path):
    return spark.readStream.schema(SCHEMA).parquet(str(path))


def _drop(spark, names):
    for t in names:
        store.drop_store_table(spark, t)


EXACT_TABLES = ["rck_exact_fps", "rck_exact_meta",
                "rck_exact_tombstones", "rck_exact_ingest_log"]

A = [(0, "alpha body text"), (1, "beta body text")]
B = [(2, "gamma body text"), (3, "alpha body text")]  # 3 dups 0


def test_exact_store_restart_processes_only_new_files(spark, tmp_path):
    _drop(spark, EXACT_TABLES)
    src, out, ckpt = tmp_path / "src", tmp_path / "out", tmp_path / "ck"
    build_exact_store(spark.createDataFrame([], SCHEMA), "rck_exact",
                      num_buckets=2)
    _write_source(spark, src, A)
    q = stream_into("exact", _stream(spark, src), "rck_exact",
                    str(ckpt), output_path=str(out))
    q.awaitTermination()
    spark.catalog.refreshTable("rck_exact_fps")
    assert spark.table("rck_exact_fps").count() == 2

    # restart against the same checkpoint: only B is new; its alpha
    # copy must dedup against run 1's store state
    _write_source(spark, src, B)
    q2 = stream_into("exact", _stream(spark, src), "rck_exact",
                     str(ckpt), output_path=str(out))
    q2.awaitTermination()
    got = sorted(r["doc_id"]
                 for r in spark.read.parquet(str(out)).collect())
    assert got == [0, 1, 2], \
        f"restart must admit only gamma and keep run-1 output: {got}"
    spark.catalog.refreshTable("rck_exact_fps")
    assert spark.table("rck_exact_fps").count() == 3

    # the guard recorded Spark's own batch numbering, one lineage:
    spark.catalog.refreshTable("rck_exact_ingest_log")
    log_df = spark.table("rck_exact_ingest_log")
    log = log_df.collect()
    assert {r["run_id"] for r in log} == {str(ckpt)}
    applied = set()
    for r in log:
        hi = r["hi"] if "hi" in log_df.columns and r["hi"] is not None \
            else r["batch_id"]
        applied.update(range(r["batch_id"], hi + 1))
    assert applied == {0, 1}, f"expected checkpoint batches 0,1: {log}"

    # idle restart: no new files -> no new batch, nothing moves
    n_out = len(got)
    q3 = stream_into("exact", _stream(spark, src), "rck_exact",
                     str(ckpt), output_path=str(out))
    q3.awaitTermination()
    spark.catalog.refreshTable("rck_exact_fps")
    assert spark.table("rck_exact_fps").count() == 3
    assert len(spark.read.parquet(str(out)).collect()) == n_out
    _drop(spark, EXACT_TABLES)


BM25_TABLES = ["rck_bm25_postings", "rck_bm25_terms", "rck_bm25_meta",
               "rck_bm25_ingest_log", "rck_ref_postings",
               "rck_ref_terms", "rck_ref_meta"]

BM25_A = [(0, "spark shuffle exchange plan"),
          (1, "parquet scan pushdown filter"),
          (2, "broadcast join hint plan")]
BM25_B = [(3, "shuffle partitions adaptive plan"),
          (4, "bucketed join zero exchange")]


def test_bm25_crash_and_real_restart_converges(spark, tmp_path,
                                               monkeypatch):
    """The apply-then-log crash window closed through the REAL retry:
    batch 1 dies at the ingest-log write (postings/terms/meta already
    landed), the query fails, and the restart — Spark re-running the
    uncommitted batch id from its own commit log — must roll the
    half-applied batch back and land scores equal to build-once."""
    _drop(spark, BM25_TABLES)
    queries = spark.createDataFrame(
        [(0, "shuffle plan"), (1, "join exchange")],
        "query_id long, query_text string")
    build_bm25_index(spark.createDataFrame(BM25_A + BM25_B, SCHEMA),
                     "rck_ref", num_buckets=2)
    want = sorted(map(tuple,
                      bm25_topk_from_index(queries, "rck_ref",
                                           k=5).collect()))
    assert want

    src, ckpt = tmp_path / "src", tmp_path / "ck"
    build_bm25_index(spark.createDataFrame([], SCHEMA), "rck_bm25",
                     num_buckets=2)
    _write_source(spark, src, BM25_A)
    q = stream_into("bm25", _stream(spark, src), "rck_bm25", str(ckpt))
    q.awaitTermination()

    # fault injection at the real boundary: batch 1's ingest-log write.
    # Both write paths are armed — the Spark ``saveAsTable`` AND the
    # driver-side parquet fast path an existing file-backed ingest log
    # takes (`store._append_log_row`).
    orig = DataFrameWriter.saveAsTable

    def boom(self, name, *a, **k):
        if name == "rck_bm25_ingest_log":
            raise RuntimeError("injected crash at rck_bm25_ingest_log")
        return orig(self, name, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "saveAsTable", boom)

    orig_append = store._append_log_row

    def boom_append(spark, log_table, *a, **k):
        if log_table == "rck_bm25_ingest_log":
            raise RuntimeError("injected crash at rck_bm25_ingest_log")
        return orig_append(spark, log_table, *a, **k)

    monkeypatch.setattr(store, "_append_log_row", boom_append)
    _write_source(spark, src, BM25_B)
    q2 = stream_into("bm25", _stream(spark, src), "rck_bm25", str(ckpt))
    with pytest.raises(Exception, match="injected crash"):
        q2.awaitTermination()
    monkeypatch.undo()
    # the batch is half-applied: stamped rows landed, no log row
    spark.catalog.refreshTable("rck_bm25_postings")
    assert (spark.table("rck_bm25_postings")
            .filter(F.col(store.PROV_BATCH) == 1).count() > 0)

    # real restart: Spark replays batch 1 from its offset log; the
    # guard rolls back the stamped half-apply and re-applies
    q3 = stream_into("bm25", _stream(spark, src), "rck_bm25", str(ckpt))
    q3.awaitTermination()
    got = sorted(map(tuple,
                     bm25_topk_from_index(queries, "rck_bm25",
                                          k=5).collect()))
    assert got == want, "post-crash restart must equal build-once"

    # a further idle restart stays byte-stable
    q4 = stream_into("bm25", _stream(spark, src), "rck_bm25", str(ckpt))
    q4.awaitTermination()
    got2 = sorted(map(tuple,
                      bm25_topk_from_index(queries, "rck_bm25",
                                           k=5).collect()))
    assert got2 == want
    _drop(spark, BM25_TABLES)
