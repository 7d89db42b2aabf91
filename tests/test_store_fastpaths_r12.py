"""Round-12 optimization contracts for the store plumbing fast paths.

1. `store.read_meta` returns the same knob row a Spark collect would
   (pyarrow fast path + memo), and the memo is invalidated by
   `write_meta` / `drop_store_table` so a rebuild in this process is
   never served stale knobs.
2. `store.write_bucketed` lands ONE file per bucket per write (the
   pre-r12 path wrote input_partitions x num_buckets files — 256 for a
   32-partition input at 8 buckets).
3. The ingest-log driver-side append (`store._append_log_row`) writes
   rows Spark reads back bit-identically, and replay suppression holds
   across a mix of fast-path and saveAsTable-written rows.
"""

import glob
import os

import pytest

from pipelinedp_spark import store

pytestmark = pytest.mark.store


def _loc(spark, table):
    return store._managed_location(spark, table)


def test_read_meta_matches_collect_and_invalidates(spark):
    store.drop_store_table(spark, "fp_meta_t_meta")
    store.write_meta(spark, "fp_meta_t", num_buckets=4, k=3,
                     threshold=0.75)
    via_spark = spark.table("fp_meta_t_meta").collect()[0]
    m = store.read_meta(spark, "fp_meta_t")
    assert int(m["num_buckets"]) == int(via_spark["num_buckets"]) == 4
    assert int(m["k"]) == 3
    assert float(m["threshold"]) == float(via_spark["threshold"]) == 0.75
    assert set(m.__fields__) == set(via_spark.__fields__)
    # memoized object is returned again
    assert store.read_meta(spark, "fp_meta_t") is m
    # write_meta invalidates: a rebuild's new knobs are visible
    store.write_meta(spark, "fp_meta_t", num_buckets=8)
    m2 = store.read_meta(spark, "fp_meta_t")
    assert int(m2["num_buckets"]) == 8
    assert "k" not in m2.__fields__
    # drop invalidates too
    store.drop_store_table(spark, "fp_meta_t_meta")
    assert "fp_meta_t" not in store._META_CACHE


def test_write_bucketed_one_file_per_bucket(spark):
    store.drop_store_table(spark, "fp_bucket_t")
    df = spark.range(10_000).selectExpr(
        "id", "md5(cast(id as string)) as fp").repartition(32)
    store.write_bucketed(df, "fp_bucket_t", "fp", 8, "overwrite")
    files = glob.glob(os.path.join(_loc(spark, "fp_bucket_t"),
                                   "*.parquet"))
    assert len(files) == 8
    # append adds at most one more file per bucket
    store.write_bucketed(df.limit(1000), "fp_bucket_t", "fp", 8,
                         "append")
    files = glob.glob(os.path.join(_loc(spark, "fp_bucket_t"),
                                   "*.parquet"))
    assert len(files) <= 16
    assert spark.table("fp_bucket_t").count() == 11_000
    store.drop_store_table(spark, "fp_bucket_t")


def test_log_fastpath_rows_read_back_and_suppress(spark):
    store.drop_store_table(spark, "fp_log_t_ingest_log")
    applied = []
    # batch 0 creates the log via saveAsTable; batches 1-2 take the
    # driver-side parquet fast path (table exists, file-backed)
    for b in range(3):
        assert store.apply_batch_once(
            spark, "fp_log_t", b, lambda: applied.append(1),
            run_id="ck") is True
    assert len(applied) == 3
    # replays of every batch are suppressed regardless of which path
    # wrote their row
    for b in range(3):
        assert store.apply_batch_once(
            spark, "fp_log_t", b, lambda: applied.append(1),
            run_id="ck") is False
    assert len(applied) == 3
    # a different lineage is NOT suppressed
    assert store.apply_batch_once(
        spark, "fp_log_t", 1, lambda: applied.append(1),
        run_id="other") is True
    # Spark reads the mixed-path log with the full schema
    rows = spark.table("fp_log_t_ingest_log").collect()
    assert {(r["batch_id"], r["run_id"]) for r in rows} == {
        (0, "ck"), (1, "ck"), (2, "ck"), (1, "other")}
    assert all(r["hi"] is None for r in rows)
    # the fold still works across fast-path rows
    store.compact_ingest_log(spark, "fp_log_t")
    folded = spark.table("fp_log_t_ingest_log").collect()
    got = {(r["run_id"], r["batch_id"], r["hi"]) for r in folded}
    assert got == {("ck", 0, 2), ("other", 1, 1)}
    store.drop_store_table(spark, "fp_log_t_ingest_log")


def test_file_row_count_matches_spark_count(spark):
    store.drop_store_table(spark, "fp_cnt_t")
    df = spark.range(1234).selectExpr("id", "md5(cast(id as string)) as fp")
    store.write_bucketed(df, "fp_cnt_t", "fp", 4, "overwrite")
    assert store._file_row_count(spark, "fp_cnt_t") == 1234
    assert store._file_row_count(spark, "fp_cnt_t") == \
        spark.table("fp_cnt_t").count()
    store.drop_store_table(spark, "fp_cnt_t")


def test_write_bucketed_skips_shuffle_below_bucket_width(spark):
    """Round-13: a checkpointed input at or below the bucket width must
    write WITHOUT the pre-write repartition (the shuffle would only
    re-split the same rows) while keeping the file count at or under
    num_buckets; plans with exchanges must keep the unconditional
    repartition (reading their partition count would execute stages)."""
    # partition-count probe: free only on exchange-free plans
    ck = spark.range(500).selectExpr(
        "id", "md5(cast(id as string)) as fp").coalesce(2).localCheckpoint()
    assert store._shuffle_free_partitions(ck) == 2
    assert store._shuffle_free_partitions(
        spark.range(10).repartition(4)) is None

    store.drop_store_table(spark, "fp_skip_t")
    wide = spark.range(2_000).selectExpr(
        "id", "md5(cast(id as string)) as fp").repartition(32)
    store.write_bucketed(wide, "fp_skip_t", "fp", 8, "overwrite")
    files = glob.glob(os.path.join(_loc(spark, "fp_skip_t"), "*.parquet"))
    assert len(files) == 8
    # sub-bucket-width checkpointed append: one task writes the
    # increment, at most one file per bucket actually present
    store.write_bucketed(ck, "fp_skip_t", "fp", 8, "append")
    files2 = glob.glob(os.path.join(_loc(spark, "fp_skip_t"), "*.parquet"))
    assert len(files2) - len(files) <= 8
    assert spark.table("fp_skip_t").count() == 2_500
    # the bucketed-aggregation contract survives the skipped shuffle:
    # the appended fps (ids 0-499, same md5s as the build's) must land
    # in their correct buckets — 2000 distinct keys, the 500 appended
    # ones now with count 2
    per_fp = spark.table("fp_skip_t").groupBy("fp").count()
    assert per_fp.count() == 2_000
    assert per_fp.filter("count = 2").count() == 500
    store.drop_store_table(spark, "fp_skip_t")


def test_refresh_table_invalidates_driver_memos(spark):
    """Round-13 (ADVICE): refresh_table must drop the read_meta /
    tombstone-size memos so 'readers refresh after external writes'
    covers them, same as Spark's own relation cache."""
    store.drop_store_table(spark, "fp_rf_t_meta")
    store.write_meta(spark, "fp_rf_t", num_buckets=4)
    assert int(store.read_meta(spark, "fp_rf_t")["num_buckets"]) == 4
    assert "fp_rf_t" in store._META_CACHE
    # simulate an EXTERNAL rewrite: poke the file directly, bypassing
    # write_meta's own invalidation
    import pyarrow as pa
    import pyarrow.parquet as pq
    loc = _loc(spark, "fp_rf_t_meta")
    for f in glob.glob(os.path.join(loc, "*.parquet")):
        os.remove(f)
    pq.write_table(pa.table({"num_buckets": pa.array([8], pa.int64())}),
                   os.path.join(loc, "part-x.parquet"))
    store.refresh_table(spark, "fp_rf_t_meta")
    assert "fp_rf_t" not in store._META_CACHE
    assert int(store.read_meta(spark, "fp_rf_t")["num_buckets"]) == 8
    store.drop_store_table(spark, "fp_rf_t_meta")


def test_file_row_count_skips_inflight_paths(spark):
    """Round-13 (ADVICE): hidden/_temporary leftovers of a crashed
    write must not inflate the footer-based row count that gates the
    tombstone broadcast hint."""
    store.drop_store_table(spark, "fp_hid_t")
    spark.range(100).selectExpr("id").write.format("parquet") \
        .saveAsTable("fp_hid_t")
    loc = _loc(spark, "fp_hid_t")
    import pyarrow as pa
    import pyarrow.parquet as pq
    tmpdir = os.path.join(loc, "_temporary")
    os.makedirs(tmpdir, exist_ok=True)
    pq.write_table(pa.table({"id": pa.array(range(50), pa.int64())}),
                   os.path.join(tmpdir, "part-crashed.parquet"))
    pq.write_table(pa.table({"id": pa.array(range(7), pa.int64())}),
                   os.path.join(loc, ".part-hidden.parquet"))
    assert store._file_row_count(spark, "fp_hid_t") == 100
    store.drop_store_table(spark, "fp_hid_t")
