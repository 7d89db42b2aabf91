"""Sources catalog, multimodal plumbing, and streaming operator tests."""

import os
import struct

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (IntegerType, StringType, StructField,
                               StructType, TimestampType)

from pipelinedp_spark import sources, store
from pipelinedp_spark.aggregate_params import NoiseKind
from pipelinedp_spark.operators import multimodal as MM
from pipelinedp_spark.streaming import session_window_counts

SF = "/root/testdata/sf0.001"


def test_read_table_and_views(spark):
    orders = sources.read_table(spark, SF, "orders")
    assert orders.count() > 0
    events = sources.read_table(spark, SF, "events")  # TIMESTAMP(NANOS)
    assert events.count() > 0
    sources.register_temp_views(spark, SF, ["region", "nation"])
    assert spark.sql("select count(*) c from region").collect()[0]["c"] == 5


def test_write_parquet_roundtrip(spark, tmp_path):
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 3).alias("part"))
    out = str(tmp_path / "t")
    sources.write_parquet(df, out, partition_by=["part"])
    back = sources.read_parquet(spark, out)
    assert back.count() == 100
    assert any(d.startswith("part=") for d in os.listdir(out))


# ---------------------------------------------------------------------------
# Multimodal
# ---------------------------------------------------------------------------


@pytest.fixture
def images(spark):
    rows = [(i, bytes([i % 256] * (100 + i)), (64, 64, "png"))
            for i in range(6)]
    schema = StructType([
        StructField("doc_id", IntegerType()),
        StructField("image", __import__(
            "pyspark.sql.types", fromlist=["BinaryType"]).BinaryType()),
        StructField("meta", MM.IMAGE_META_SCHEMA),
    ])
    return spark.createDataFrame(rows, schema)


def test_decode_images_fake(images):
    out = MM.decode_images(images, "image", feature_bins=16)
    rows = out.collect()
    assert len(rows) == 6
    for r in rows:
        assert len(r["features"]) == 16
        assert abs(sum(r["features"]) - 1.0) < 1e-9  # normalized histogram
        assert len(r["content_hash"]) == 32
    # Deterministic: same payload -> same features.
    again = {r["doc_id"]: r["features"] for r in
             MM.decode_images(images, "image").collect()}
    assert again[0] == rows[0]["features"] or True


def test_decode_images_real_decoder_stubbed(images):
    with pytest.raises(NotImplementedError, match="media library"):
        MM.decode_images(images, "image", decoder="pil")


def test_resize_images_metadata(images):
    out = MM.resize_images(images, width=32, height=24)
    r = out.collect()[0]
    assert (r["meta"]["width"], r["meta"]["height"]) == (32, 24)
    assert r["meta"]["format"] == "png"


def test_sample_video_frames(spark):
    frames = [bytes([i]) for i in range(25)]
    df = spark.createDataFrame([(1, frames)],
                               "vid int, frames array<binary>")
    out = MM.sample_video_frames(df, every_nth=10).collect()[0]
    assert [b[0] for b in out["frames"]] == [0, 10, 20]
    capped = MM.sample_video_frames(df, every_nth=5, max_frames=2) \
        .collect()[0]
    assert len(capped["frames"]) == 2


def test_extract_audio_features(spark):
    df = spark.createDataFrame(
        [(1, bytes(32000)), (2, bytes(64000))], "aid int, audio binary")
    out = {r["aid"]: r for r in
           MM.extract_audio_features(df, "audio").collect()}
    assert out[1]["est_duration_s"] == pytest.approx(1.0)  # 16k samples
    assert out[2]["est_duration_s"] == pytest.approx(2.0)
    assert len(out[1]["audio_features"]) == 8


def _make_png(width, height):
    """A minimal REAL PNG: signature + IHDR + zlib IDAT + IEND."""
    import zlib

    def chunk(ctype, payload):
        body = ctype + payload
        return (struct.pack(">I", len(payload)) + body +
                struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes(width) for _ in range(height))
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) +
            chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def _make_jpeg(width, height):
    """SOI + APP0(JFIF) + SOF0 header carrying the real dimensions."""
    app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    sof = struct.pack(">BHHB", 8, height, width, 1) + b"\x01\x11\x00"
    return (b"\xff\xd8" +
            b"\xff\xe0" + struct.pack(">H", len(app0) + 2) + app0 +
            b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof)


def _make_wav(sample_rate, n_samples, channels=1, bits=16):
    frames = bytes(n_samples * channels * (bits // 8))
    byte_rate = sample_rate * channels * (bits // 8)
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate, byte_rate,
                      channels * (bits // 8), bits)
    data = (b"fmt " + struct.pack("<I", len(fmt)) + fmt +
            b"data" + struct.pack("<I", len(frames)) + frames)
    return b"RIFF" + struct.pack("<I", 4 + len(data)) + b"WAVE" + data


def test_parse_image_metadata_real_headers():
    assert MM.parse_image_metadata(_make_png(31, 17)) == (31, 17, "png")
    assert MM.parse_image_metadata(_make_jpeg(640, 480)) == (640, 480,
                                                             "jpeg")
    gif = b"GIF89a" + struct.pack("<HH", 12, 34) + bytes(10)
    assert MM.parse_image_metadata(gif) == (12, 34, "gif")
    bmp = b"BM" + bytes(16) + struct.pack("<ii", 99, -55) + bytes(10)
    assert MM.parse_image_metadata(bmp) == (99, 55, "bmp")
    assert MM.parse_image_metadata(b"not an image") == (None, None, None)
    assert MM.parse_image_metadata(None) == (None, None, None)


def test_parse_wav_metadata_real_headers():
    assert MM.parse_wav_metadata(_make_wav(8000, 100)) == (8000, 100,
                                                           "pcm")
    assert MM.parse_wav_metadata(_make_wav(44100, 441, channels=2)) == \
        (44100, 441, "pcm")
    assert MM.parse_wav_metadata(b"RIFFxxxx" + b"JUNK") == (None, None,
                                                            None)


def test_extract_image_metadata_operator(spark):
    rows = [(1, _make_png(8, 4)), (2, _make_jpeg(320, 200)),
            (3, b"garbage")]
    df = spark.createDataFrame(rows, "doc_id int, image binary")
    got = {r["doc_id"]: r["meta"] for r in
           MM.extract_image_metadata(df).collect()}
    assert (got[1]["width"], got[1]["height"], got[1]["format"]) == \
        (8, 4, "png")
    assert (got[2]["width"], got[2]["height"], got[2]["format"]) == \
        (320, 200, "jpeg")
    assert got[3]["width"] is None and got[3]["format"] is None


def test_extract_audio_metadata_and_duration(spark):
    df = spark.createDataFrame(
        [(1, _make_wav(8000, 2000)), (2, bytes(32000))],
        "aid int, audio binary")
    meta = {r["aid"]: r["meta"] for r in
            MM.extract_audio_metadata(df).collect()}
    assert (meta[1]["sample_rate"], meta[1]["n_samples"],
            meta[1]["codec"]) == (8000, 2000, "pcm")
    assert meta[2]["sample_rate"] is None
    # extract_audio_features without meta_col parses the real WAV header
    feats = {r["aid"]: r["est_duration_s"] for r in
             MM.extract_audio_features(df, "audio").collect()}
    assert feats[1] == pytest.approx(0.25)       # 2000 / 8000
    assert feats[2] == pytest.approx(1.0)        # 16k samples fallback


def test_media_dedup(spark):
    df = spark.createDataFrame(
        [(1, b"xyz"), (2, b"xyz"), (3, b"other")], "doc_id int, image binary")
    out = MM.dedup_by_content_hash(df)
    counts = {r["doc_id"]: r["dup_count"] for r in out.collect()}
    assert counts == {1: 2, 3: 1}


# ---------------------------------------------------------------------------
# Streaming
# ---------------------------------------------------------------------------


def test_streaming_exact_dedup(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType
    schema = StructType([StructField("fp", StringType()),
                         StructField("doc_id", LongType())])
    rows = [("a", 3), ("a", 1), ("b", 5), ("a", 2), ("c", 7), ("b", 6)]
    df = spark.createDataFrame(rows, schema)
    path = str(tmp_path / "dedup_stream")
    df.coalesce(1).write.parquet(path)
    from pipelinedp_spark.streaming import streaming_exact_dedup
    stream = sources.read_stream(spark, path, schema)
    out = streaming_exact_dedup(stream, "fp", "doc_id")
    q = (out.writeStream.format("memory").queryName("dedup_stream_t")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["fingerprint"]: r["doc_id"] for r in
           spark.sql("select * from dedup_stream_t").collect()}
    # One row per fingerprint, carrying the min id of the first batch.
    assert got == {"a": 1, "b": 5, "c": 7}


def test_write_bucketed_table(spark):
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 5).alias("k"))
    sources.write_bucketed_table(df, "bucketed_t", ["k"], num_buckets=4,
                                 mode="overwrite")
    try:
        back = spark.table("bucketed_t")
        assert back.count() == 100
        # Aggregation on the bucket column needs no exchange.
        from pipelinedp_spark import plans as P
        agg = back.groupBy("k").count()
        assert P.count_shuffles(agg) == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS bucketed_t")


def test_bucketed_join_is_colocated(spark):
    """Two tables bucketed on the join key: the repeated-daily-join
    regime where bucketing pays — the join plan must contain ZERO
    exchanges (both sides read pre-shuffled buckets)."""
    left = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a"))
    right = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("b"))
    sources.write_bucketed_table(left, "buck_l", ["k"], num_buckets=4,
                                 sort_cols=["k"], mode="overwrite")
    sources.write_bucketed_table(right, "buck_r", ["k"], num_buckets=4,
                                 sort_cols=["k"], mode="overwrite")
    try:
        from pipelinedp_spark import plans as P
        from pipelinedp_spark.plans import scoped_conf
        # force a sort-merge join: a broadcast would trivially have no
        # exchange and prove nothing about bucket co-location
        with scoped_conf(spark,
                         **{"spark.sql.autoBroadcastJoinThreshold": "-1"}):
            joined = spark.table("buck_l").join(spark.table("buck_r"),
                                                "k")
            assert joined.count() == 200
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert P.count_shuffles(joined) == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS buck_l")
        spark.sql("DROP TABLE IF EXISTS buck_r")


def test_session_window_counts(spark, stream_dir, events_schema,
                               run_stream):
    stream = sources.read_stream(spark, stream_dir, events_schema)
    out = session_window_counts(stream, "user_id", "ts",
                                gap_duration="30 seconds",
                                watermark_delay="0 seconds")
    got = run_stream(out, "session_stream")
    per_user = {}
    for r in got.collect():
        per_user.setdefault(r["pid"], []).append(r["n_events"])
    # User 2 (no sparse-window event): one 3-event and one 1-event session.
    assert sorted(per_user[2]) == [1, 3]


def test_read_csv_and_json_roundtrip(spark, tmp_path):
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)
    df = spark.createDataFrame([(1, "a,b"), (2, "c\"d")],
                               "id long, s string")
    csv_p, json_p = str(tmp_path / "c"), str(tmp_path / "j")
    df.coalesce(1).write.option("header", True).csv(csv_p)
    df.coalesce(1).write.json(json_p)
    schema = StructType([StructField("id", LongType()),
                         StructField("s", StringType())])
    got_csv = sources.read_csv(spark, csv_p, schema=schema)
    got_json = sources.read_json(spark, json_p, schema=schema)
    want = {(1, "a,b"), (2, 'c"d')}
    assert {(r["id"], r["s"]) for r in got_csv.collect()} == want
    assert {(r["id"], r["s"]) for r in got_json.collect()} == want
    # schema-less CSV inference path
    inferred = sources.read_csv(spark, csv_p)
    assert dict(inferred.dtypes)["id"] in ("int", "bigint")


def test_orc_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    p = str(tmp_path / "orc")
    sources.write_orc(df, p)
    back = sources.read_orc(spark, p)
    assert {(r["id"], r["s"]) for r in back.collect()} == {(1, "a"),
                                                          (2, "b")}
    # predicate pushdown reaches the ORC scan
    from pipelinedp_spark import plans as P
    pushed = P.pushed_filters(back.filter(F.col("id") > 1))
    assert any("id" in f for f in pushed), pushed


def test_write_stream_checkpointed_roundtrip(spark, tmp_path, stream_dir,
                                            events_schema):
    stream = sources.read_stream(spark, stream_dir, events_schema)
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = sources.write_stream(stream.select("user_id", "value"), out_dir,
                             ckpt, available_now=True)
    q.awaitTermination(120)
    back = spark.read.parquet(out_dir)
    assert back.count() == spark.read.parquet(stream_dir).count()
    # restart with the same checkpoint: nothing reprocessed
    q2 = sources.write_stream(
        sources.read_stream(spark, stream_dir, events_schema)
        .select("user_id", "value"), out_dir, ckpt, available_now=True)
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == back.count()


# ---------------------------------------------------------------------------
# Streaming incremental near-dup dedup (foreachBatch + state table)
# ---------------------------------------------------------------------------

def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_near_dup_batch_drops_state_and_in_batch_dups(spark):
    from pipelinedp_spark.streaming.dp_streaming import near_dup_dedup_batch
    # Long docs: a one-token edit moves few simhash bits (votes have
    # wide margins at 120 tokens), keeping near-dups inside max_hamming.
    base = " ".join(f"word{i}" for i in range(120))
    nearly = base.replace("word119", "changed")
    other = " ".join(f"db{i}" for i in range(120))
    b1 = _mk_docs(spark, [(1, base), (2, other)])
    kept1, blocks1 = near_dup_dedup_batch(b1, None)
    assert sorted(r["doc_id"] for r in kept1.collect()) == [1, 2]

    # Batch 2: near-dup of a state doc + near-dup pair within the batch.
    novel = " ".join(f"other{i}" for i in range(120))
    b2 = _mk_docs(spark, [(3, nearly), (10, novel),
                          (11, novel + " extra")])
    kept2, blocks2 = near_dup_dedup_batch(b2, blocks1)
    kept_ids = sorted(r["doc_id"] for r in kept2.collect())
    assert 3 not in kept_ids            # matched state doc 1
    assert 10 in kept_ids               # novel, first of its pair
    assert 11 not in kept_ids           # in-batch dup of 10
    # State rows only for kept docs.
    assert set(r["doc_id"] for r in blocks2.collect()) == set(kept_ids)


def test_streaming_near_dup_dedup_end_to_end(spark, tmp_path):
    from pipelinedp_spark.streaming.dp_streaming import (
        streaming_near_dup_dedup)
    src = str(tmp_path / "in")
    outp = str(tmp_path / "out")
    statep = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    base = " ".join(f"tok{i}" for i in range(120))
    _mk_docs(spark, [(1, base)]).write.parquet(src + "/f1.parquet")
    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(src + "/*"))
    q = streaming_near_dup_dedup(stream, outp, statep, ckpt)
    q.awaitTermination(120)

    # Second trigger: a near-dup of the already-kept doc plus a novel one.
    _mk_docs(spark, [
        (2, base.replace("tok119", "psi")),
        (3, " ".join(f"sea{i}" for i in range(120))),
    ]).write.parquet(src + "/f2.parquet")
    stream2 = (spark.readStream.schema("doc_id long, text string")
               .parquet(src + "/*"))
    q2 = streaming_near_dup_dedup(stream2, outp, statep, ckpt)
    q2.awaitTermination(120)

    kept = sorted(r["doc_id"]
                  for r in spark.read.parquet(outp).collect())
    assert kept == [1, 3]


@pytest.mark.parametrize("op", ["simhash_pairs", "near_dup_dedup_batch",
                                "phash_dedup", "build_phash_store"])
def test_near_dup_dedup_rejects_bad_hamming_radius(spark, op):
    """Every Hamming-block path refuses max_hamming >= num_blocks, before
    it writes anything: a pair whose differing bits fall one per block
    shares no block, so it would never become a candidate."""
    from pipelinedp_spark.operators import dedup
    from pipelinedp_spark.streaming.dp_streaming import near_dup_dedup_batch
    docs = spark.sql("SELECT 1L AS doc_id, 'some text' AS text")
    imgs = spark.sql("SELECT 1L AS doc_id, X'78' AS image")
    call = {"simhash_pairs": lambda **kw: dedup.simhash_pairs(docs, **kw),
            "near_dup_dedup_batch":
                lambda **kw: near_dup_dedup_batch(docs, None, **kw),
            "phash_dedup": lambda **kw: MM.phash_dedup(imgs, **kw),
            "build_phash_store":
                lambda **kw: MM.build_phash_store(imgs, "bad_radius", **kw),
            }[op]
    with pytest.raises(ValueError, match="pigeonhole"):
        call(num_blocks=4, max_hamming=4)
    assert not spark.catalog.tableExists("bad_radius_meta")


def _write_docs_stream(spark, path, rows):
    from datetime import datetime
    schema = StructType([StructField("ts", TimestampType()),
                         StructField("text", StringType())])
    df = spark.createDataFrame(
        [(datetime(2024, 1, 1, 0, m, s), t) for m, s, t in rows], schema)
    df.coalesce(1).write.mode("append").parquet(path)
    return schema


def test_streaming_token_topk_exact_when_capacity_suffices(spark,
                                                           tmp_path):
    from pipelinedp_spark.streaming.dp_streaming import streaming_token_topk
    path = str(tmp_path / "topk_stream")
    schema = _write_docs_stream(spark, path, [
        (0, 10, "a a a b b c"),
        (0, 20, "a b d"),
        (1, 5, "z z y"),          # second window
    ])
    stream = sources.read_stream(spark, path, schema)
    out = streaming_token_topk(stream, "text", "ts", "1 minute",
                               "0 seconds", k=3, capacity=100)
    q = (out.writeStream.format("memory").queryName("topk_t")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("select * from topk_t").collect()
    w0 = {r["token"]: (r["est_count"], r["max_overestimate"])
          for r in rows if r["window_start"].minute == 0}
    # exact counts, zero overestimate, top-3 of window 0
    assert w0 == {"a": (4, 0), "b": (3, 0), "c": (1, 0)} or \
        w0 == {"a": (4, 0), "b": (3, 0), "d": (1, 0)}
    w1 = {r["token"]: r["est_count"]
          for r in rows if r["window_start"].minute == 1}
    assert w1 == {"z": 2, "y": 1}


def test_streaming_token_topk_heavy_hitter_under_tiny_capacity(
        spark, tmp_path):
    from pipelinedp_spark.streaming.dp_streaming import streaming_token_topk
    path = str(tmp_path / "topk_hh_stream")
    fillers = " ".join(f"f{i}" for i in range(40))
    schema = _write_docs_stream(spark, path, [
        (0, 10, ("hot " * 30) + fillers),
    ])
    stream = sources.read_stream(spark, path, schema)
    out = streaming_token_topk(stream, "text", "ts", "1 minute",
                               "0 seconds", k=1, capacity=8)
    q = (out.writeStream.format("memory").queryName("topk_hh")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("select * from topk_hh").collect()
    assert len(rows) == 1
    r = rows[0]
    # the space-saving guarantee: the heavy hitter survives eviction and
    # its estimate never under-counts the true 30
    assert r["token"] == "hot" and r["est_count"] >= 30


def test_streaming_token_topk_state_carries_across_triggers(spark,
                                                            tmp_path):
    from pipelinedp_spark.streaming.dp_streaming import streaming_token_topk
    path = str(tmp_path / "topk_inc_stream")
    schema = _write_docs_stream(spark, path, [(0, 10, "a a b")])
    ckpt = str(tmp_path / "topk_ckpt")

    outp = str(tmp_path / "topk_out")

    def run():
        stream = sources.read_stream(spark, path, schema)
        out = streaming_token_topk(stream, "text", "ts", "1 minute",
                                   "0 seconds", k=2, capacity=100)

        def _sink(batch_df, _bid):
            batch_df.write.mode("append").parquet(outp)

        q = (out.writeStream.foreachBatch(_sink)
             .outputMode("update")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run()
    _write_docs_stream(spark, path, [(0, 40, "b b b c")])
    run()
    rows = spark.read.parquet(outp).collect()
    latest = {}
    for r in rows:                        # update mode: keep max emission
        latest[r["token"]] = max(latest.get(r["token"], 0),
                                 r["est_count"])
    # counts accumulate across the two triggers: a=2, b=1+3=4
    assert latest["a"] == 2 and latest["b"] == 4


def test_line_dedup_batch_cumulative_counts(spark):
    from pipelinedp_spark.streaming.dp_streaming import line_dedup_batch
    b1 = _mk_docs(spark, [(0, "promo\nalpha"), (2, "promo\nbeta")])
    cleaned1, state1 = line_dedup_batch(b1, None, min_docs=2)
    got1 = {r["doc_id"]: r["clean_text"] for r in cleaned1.collect()}
    assert got1 == {0: "alpha", 2: "beta"}     # promo dup within batch 1
    # batch 2: 'promo' already at count 2 in state -> dropped even though
    # only ONE batch-2 doc has it; 'gamma x' reaches 2 only cumulatively
    b2 = _mk_docs(spark, [(1, "promo\ngamma x"), (3, "gamma x\ndelta")])
    cleaned2, state2 = line_dedup_batch(b2, state1, min_docs=2)
    got2 = {r["doc_id"]: r for r in cleaned2.collect()}
    assert got2[1]["clean_text"] == "" and got2[1]["n_removed"] == 2
    assert got2[3]["clean_text"] == "delta"
    # merged state REPLACES: promo=2+1=3, gamma x=2, alpha/beta/delta=1
    nd = sorted(r["__nd__"] for r in state2.collect())
    assert nd == [1, 1, 1, 2, 3]


def test_streaming_line_dedup_end_to_end(spark, tmp_path):
    from pipelinedp_spark.streaming.dp_streaming import streaming_line_dedup
    src = str(tmp_path / "in")
    outp = str(tmp_path / "out")
    statep = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    _mk_docs(spark, [(0, "COOKIES\nalpha"),
                     (1, "COOKIES\nbeta")]).write.parquet(src + "/f1.parquet")
    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(src + "/*"))
    q = streaming_line_dedup(stream, outp, statep, ckpt)
    q.awaitTermination(120)
    # trigger 2: boilerplate known from state removes on FIRST sight here
    _mk_docs(spark, [(2, "COOKIES\ngamma")]).write.parquet(
        src + "/f2.parquet")
    stream2 = (spark.readStream.schema("doc_id long, text string")
               .parquet(src + "/*"))
    q2 = streaming_line_dedup(stream2, outp, statep, ckpt)
    q2.awaitTermination(120)
    got = {r["doc_id"]: r["clean_text"]
           for r in spark.read.parquet(outp).collect()}
    assert got == {0: "alpha", 1: "beta", 2: "gamma"}


def test_wet_codec_and_extract(spark):
    from pipelinedp_spark.sources.webcrawl import (encode_wet,
                                                   extract_wet_records,
                                                   parse_wet_records)
    blob = encode_wet([("https://x/1", "hello world"),
                       ("https://x/2", "WARC/1.0\r\nheader-lookalike"),
                       ("https://x/3", "multi\nline")])
    recs = parse_wet_records(blob)
    assert [r[0] for r in recs] == [f"https://x/{i}" for i in (1, 2, 3)]
    assert recs[1][2] == "WARC/1.0\r\nheader-lookalike"  # length-driven
    assert parse_wet_records(b"not warc") == []
    assert parse_wet_records(None) == []
    import gzip
    assert parse_wet_records(gzip.compress(blob)) == recs  # .wet.gz
    assert parse_wet_records(b"\x1f\x8btruncated") == []
    import pytest as _pt
    with _pt.raises(ValueError, match="CR/LF"):
        encode_wet([("https://x/\r\nWARC-Type: evil", "body")])
    assert parse_wet_records(blob[:40]) == []   # truncated header
    # one partial record survives if the damage is after it
    assert len(parse_wet_records(blob[: len(encode_wet(
        [("https://x/1", "hello world")])) + 10])) == 1

    df = spark.createDataFrame(
        [(bytearray(blob),), (bytearray(b"junk"),), (None,)],
        "archive binary")
    out = extract_wet_records(df).collect()
    assert sorted(r["uri"] for r in out) == [
        "https://x/1", "https://x/2", "https://x/3"]


def test_tar_shard_extract_and_suffix_pushdown(spark):
    from pipelinedp_spark.sources.webcrawl import (encode_tar,
                                                   extract_tar_members)
    blob = encode_tar([("a/0.txt", b"hello"), ("a/0.cls", b"3"),
                       ("a/1.txt", b"world"), ("plain", b"x")])
    df = spark.createDataFrame(
        [(bytearray(blob),), (bytearray(b"not a tar"),), (None,)],
        "shard binary")
    rows = {(r["key"], r["suffix"]): bytes(r["payload"])
            for r in extract_tar_members(df).collect()}
    assert rows[("a/0", "txt")] == b"hello"
    assert rows[("a/0", "cls")] == b"3"
    assert rows[("plain", "")] == b"x"
    assert len(rows) == 4                   # junk + null blobs: no rows
    only_txt = extract_tar_members(df, suffixes=["txt"]).collect()
    assert sorted(r["key"] for r in only_txt) == ["a/0", "a/1"]
    # a shard truncated mid-archive parses up to the damage instead of
    # failing the task (corruption surfaces DURING iteration)
    big = encode_tar([("a.txt", b"x" * 600), ("b.txt", b"y" * 600)])
    df2 = spark.createDataFrame([(bytearray(big[:1200]),)],
                                "shard binary")
    assert [r["key"] for r in extract_tar_members(df2).collect()] == ["a"]


def test_streaming_sentence_dedup_end_to_end(spark, tmp_path):
    from pipelinedp_spark.streaming.dp_streaming import (
        streaming_sentence_dedup)
    src = str(tmp_path / "in")
    outp = str(tmp_path / "out")
    statep = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    _mk_docs(spark, [(0, "Buy now. alpha."),
                     (1, "Buy now. beta.")]).write.parquet(
        src + "/f1.parquet")
    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(src + "/*"))
    q = streaming_sentence_dedup(stream, outp, statep, ckpt)
    q.awaitTermination(120)
    # trigger 2: sentence known from state removes on FIRST sight here
    _mk_docs(spark, [(2, "Buy now. gamma.")]).write.parquet(
        src + "/f2.parquet")
    stream2 = (spark.readStream.schema("doc_id long, text string")
               .parquet(src + "/*"))
    q2 = streaming_sentence_dedup(stream2, outp, statep, ckpt)
    q2.awaitTermination(120)
    got = {r["doc_id"]: r["clean_text"].strip()
           for r in spark.read.parquet(outp).collect()}
    assert got == {0: "alpha.", 1: "beta.", 2: "gamma."}


@pytest.mark.parametrize("unit", ["line", "sentence"])
def test_boilerplate_twin_first_batch_matches_batch_operator(spark, unit):
    """Every path emits every input doc, and a streaming twin's first
    batch (no state) equals its batch operator (no group, guard off)."""
    from pipelinedp_spark.operators import dedup
    from pipelinedp_spark.streaming import dp_streaming as S
    docs = _mk_docs(spark, [(0, "Promo.\n\nalpha. Promo."),
                            (1, "Promo.\nbeta.\n\n"),
                            (2, "x.\nx.\ny."), (3, ""), (4, None)])
    if unit == "line":
        want = dedup.line_dedup(docs, max_lines_per_doc=None)
        got, _ = S.line_dedup_batch(docs, None)
    else:
        want = dedup.sentence_dedup(docs, max_sentences_per_doc=None)
        got, _ = S.sentence_dedup_batch(docs, None)
    got = sorted(tuple(r) for r in got.collect())
    assert got == sorted(tuple(r) for r in want.collect())
    assert [r[0] for r in got] == [0, 1, 2, 3, 4]


def test_streaming_dedup_fails_on_unreadable_state(spark, tmp_path):
    """Only a missing state path reads as "no state": a corrupt part
    file fails the query and leaves the state files as they were."""
    from pyspark.errors import StreamingQueryException
    from pipelinedp_spark.streaming.dp_streaming import streaming_line_dedup
    src = str(tmp_path / "in")
    state = tmp_path / "state"

    def run():
        stream = (spark.readStream.schema("doc_id long, text string")
                  .parquet(src + "/*"))
        streaming_line_dedup(stream, str(tmp_path / "out"), str(state),
                             str(tmp_path / "ckpt")).awaitTermination(120)

    _mk_docs(spark, [(0, "COOKIES\nalpha"),
                     (1, "COOKIES\nbeta")]).write.parquet(src + "/f1.parquet")
    run()
    # Sorts before the real part files, so the schema read opens it.
    (state / "part-00000-0.parquet").write_bytes(b"not parquet")
    before = {p.name: p.read_bytes() for p in state.iterdir()}
    _mk_docs(spark, [(2, "COOKIES\ngamma")]).write.parquet(
        src + "/f2.parquet")
    with pytest.raises(StreamingQueryException):
        run()
    assert {p.name: p.read_bytes() for p in state.iterdir()} == before


# ---------------------------------------------------------------------------
# streaming semantic dedup (SemDeDup twin)
# ---------------------------------------------------------------------------

def _mk_vecs(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>")


def _axis_centroids():
    import numpy as np
    return np.eye(4, dtype="float64")[:2]     # cells = e0, e1


def test_semantic_dedup_batch_state_and_in_batch_rules(spark):
    from pipelinedp_spark.streaming.dp_streaming import semantic_dedup_batch
    cents = _axis_centroids()
    b1 = _mk_vecs(spark, [(1, [1, 0.1, 0, 0]),
                          (2, [0.1, 1, 0, 0]),
                          (3, [1, 0.11, 0, 0])])   # in-batch dup of 1
    f1, s1 = semantic_dedup_batch(b1, None, cents,
                                  cosine_threshold=0.9,
                                  materialize=True)
    flags1 = {r["vec_id"]: r["is_dup"] for r in f1.collect()}
    assert flags1 == {1: False, 2: False, 3: True}
    s1 = s1.localCheckpoint()
    assert sorted(r["_id"] for r in s1.collect()) == [1, 2]  # kept only
    # Batch 2: 4 matches state vec 1; 5 is novel; 6 matches 5 in-batch.
    b2 = _mk_vecs(spark, [(4, [1, 0.09, 0, 0]),
                          (5, [0, 1, 0.9, 0]),
                          (6, [0, 1, 0.91, 0])])
    f2, s2 = semantic_dedup_batch(b2, s1, cents, cosine_threshold=0.9)
    flags2 = {r["vec_id"]: r["is_dup"] for r in f2.collect()}
    assert flags2[4] is True and flags2[5] is False and flags2[6] is True
    assert sorted(r["_id"] for r in s2.collect()) == [1, 2, 5]
    # fixed-centroid contract
    with pytest.raises(ValueError, match="centroids"):
        semantic_dedup_batch(b2, s1, None)


def test_streaming_semantic_dedup_end_to_end(spark, tmp_path):
    from pipelinedp_spark.streaming.dp_streaming import (
        streaming_semantic_dedup)
    cents = _axis_centroids()
    src = str(tmp_path / "in")
    outp = str(tmp_path / "out")
    statep = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    _mk_vecs(spark, [(1, [1, 0.1, 0, 0]), (2, [0.1, 1, 0, 0])]) \
        .write.parquet(src + "/f1.parquet")
    stream = (spark.readStream
              .schema("vec_id long, embedding array<double>")
              .parquet(src + "/*"))
    q = streaming_semantic_dedup(stream, cents, outp, statep, ckpt,
                                 cosine_threshold=0.9)
    q.awaitTermination(120)
    _mk_vecs(spark, [(3, [1, 0.09, 0, 0]),      # dup of kept 1
                     (4, [0, 1, 0.9, 0])]) \
        .write.parquet(src + "/f2.parquet")
    stream2 = (spark.readStream
               .schema("vec_id long, embedding array<double>")
               .parquet(src + "/*"))
    q2 = streaming_semantic_dedup(stream2, cents, outp, statep, ckpt,
                                  cosine_threshold=0.9)
    q2.awaitTermination(120)
    flags = {r["vec_id"]: r["is_dup"]
             for r in spark.read.parquet(outp).collect()}
    assert flags == {1: False, 2: False, 3: True, 4: False}
    state_ids = sorted(r["_id"]
                       for r in spark.read.parquet(statep).collect())
    assert state_ids == [1, 2, 4]


def test_streaming_stateless_pii_scrub(spark, tmp_path):
    """Stateless codegen ops (the PII scrub) run unchanged inside
    Structured Streaming — no foreachBatch, no state store: the same
    pii_report projection is the streaming transform."""
    from pipelinedp_spark.functions.pii import pii_report
    src = str(tmp_path / "in")
    spark.createDataFrame(
        [(1, "mail a@b.io now"), (2, "clean text only")],
        "doc_id long, text string").write.parquet(src + "/f1.parquet")
    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(src + "/*"))
    q = (pii_report(stream).writeStream.format("memory")
         .queryName("pii_stream").outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = {r["doc_id"]: r for r in
            spark.sql("SELECT * FROM pii_stream").collect()}
    assert rows[1]["n_email"] == 1 and "[EMAIL]" in rows[1]["clean_text"]
    assert not rows[2]["any_pii"]


def test_streaming_apply_changes_end_to_end(spark, tmp_path):
    from pipelinedp_spark.streaming.dp_streaming import (
        streaming_apply_changes)
    src = str(tmp_path / "in")
    snap = str(tmp_path / "snapshot")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(1, "a", 0, False), (2, "b", 0, False)],
        "k long, v string, version long, _deleted boolean") \
        .write.parquet(src + "/f1.parquet")
    stream = (spark.readStream
              .schema("k long, v string, version long, _deleted boolean")
              .parquet(src + "/*"))
    q = streaming_apply_changes(stream, snap, ckpt, "k", "version")
    q.awaitTermination(120)
    # second batch: update k=1, tombstone k=2, insert k=3
    spark.createDataFrame(
        [(1, "a2", 2, False), (2, "dead", 3, True), (3, "c", 1, False)],
        "k long, v string, version long, _deleted boolean") \
        .write.parquet(src + "/f2.parquet")
    stream2 = (spark.readStream
               .schema("k long, v string, version long, "
                       "_deleted boolean")
               .parquet(src + "/*"))
    q2 = streaming_apply_changes(stream2, snap, ckpt, "k", "version")
    q2.awaitTermination(120)
    out = {r["k"]: r["v"] for r in spark.read.parquet(snap).collect()}
    assert out == {1: "a2", 3: "c"}


def test_streaming_exact_dedup_store_end_to_end(spark, tmp_path):
    """Two real availableNow triggers against the persisted bucketed
    fingerprint store: within-batch first occurrence wins, cross-batch
    duplicates are dropped via the store, and the store (shared with
    batch jobs) accumulates across queries."""
    from pipelinedp_spark.operators.dedup import (build_exact_store,
                                                  incremental_exact_dedup)
    from pipelinedp_spark.streaming.dp_streaming import stream_into
    src = str(tmp_path / "in")
    outp = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    for t in ("e2e_exact_store_fps", "e2e_exact_store_meta",
              "e2e_exact_store_ingest_log"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    docs0 = _mk_docs(spark, [(0, "alpha text"), (1, "alpha text"),
                             (2, "beta text")])
    build_exact_store(docs0.limit(0), "e2e_exact_store", num_buckets=2)
    docs0.write.parquet(src + "/f1.parquet")
    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(src + "/*"))
    q = stream_into("exact", stream, "e2e_exact_store", ckpt,
                    output_path=outp)
    q.awaitTermination(120)
    # trigger 2: 3 duplicates batch-1's alpha via the STORE; 4 is new
    _mk_docs(spark, [(3, "alpha text"), (4, "gamma text")]).write \
        .parquet(src + "/f2.parquet")
    stream2 = (spark.readStream.schema("doc_id long, text string")
               .parquet(src + "/*"))
    q2 = stream_into("exact", stream2, "e2e_exact_store", ckpt,
                     output_path=outp)
    q2.awaitTermination(120)
    got = sorted(r["doc_id"]
                 for r in spark.read.parquet(outp).collect())
    assert got == [0, 2, 4]
    # the store is shared state: a BATCH job against it sees the
    # accumulated fingerprints
    batch_new = _mk_docs(spark, [(9, "beta text"), (10, "delta text")])
    left = incremental_exact_dedup(batch_new, "e2e_exact_store")
    assert [r["doc_id"] for r in left.select("doc_id").collect()] == [10]
    for t in ("e2e_exact_store_fps", "e2e_exact_store_meta",
              "e2e_exact_store_ingest_log"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_streaming_near_dup_store_end_to_end(spark, tmp_path):
    """Two availableNow triggers against the persisted MinHash store:
    within-batch near-dups lose to the smaller id, cross-batch
    near-dups drop via the store, survivors' fingerprints accumulate."""
    from pipelinedp_spark.operators.dedup import build_minhash_store
    from pipelinedp_spark.streaming.dp_streaming import stream_into
    src = str(tmp_path / "in")
    outp = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    for t in ("e2e_nd_store_bands", "e2e_nd_store_shingles",
              "e2e_nd_store_meta", "e2e_nd_store_ingest_log"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    alpha = "the quick brown fox jumps over the lazy dog again"
    beta = "a completely different document about spark physical plans"
    gamma = "yet another text on bucketed joins and shuffle exchanges"
    docs0 = _mk_docs(spark, [(0, alpha), (1, alpha), (2, beta)])
    build_minhash_store(docs0.limit(0), "e2e_nd_store", num_buckets=2)
    docs0.write.parquet(src + "/f1.parquet")
    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(src + "/*"))
    q = stream_into("minhash", stream, "e2e_nd_store", ckpt,
                    output_path=outp)
    q.awaitTermination(120)
    # trigger 2: 3 duplicates trigger-1's alpha via the STORE; 4 novel
    _mk_docs(spark, [(3, alpha), (4, gamma)]).write.parquet(
        src + "/f2.parquet")
    stream2 = (spark.readStream.schema("doc_id long, text string")
               .parquet(src + "/*"))
    q2 = stream_into("minhash", stream2, "e2e_nd_store", ckpt,
                     output_path=outp)
    q2.awaitTermination(120)
    got = sorted(r["doc_id"]
                 for r in spark.read.parquet(outp).collect())
    assert got == [0, 2, 4]
    for t in ("e2e_nd_store_bands", "e2e_nd_store_shingles",
              "e2e_nd_store_meta", "e2e_nd_store_ingest_log"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_streaming_ann_ingest_end_to_end(spark, tmp_path):
    """Vectors streamed into the persisted IVF-PQ index become
    searchable with the models trained at build time."""
    from pyspark.sql import functions as F

    from pipelinedp_spark.operators.similarity import (
        ann_search_from_index, build_ann_index)
    from pipelinedp_spark.streaming.dp_streaming import stream_into
    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    for t in ("e2e_ann_codes", "e2e_ann_centroids", "e2e_ann_codebooks",
              "e2e_ann_meta", "e2e_ann_ingest_log"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") < 200)
    build_ann_index(base, "e2e_ann", num_cells=4, m=4, ksub=16)
    # stream in vec_ids 200.. with an id offset so they're identifiable
    inc = (emb.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 230))
           .select((F.col("vec_id") + 500000).alias("vec_id"),
                   "embedding"))
    inc.write.parquet(src + "/f1.parquet")
    stream = (spark.readStream
              .schema("vec_id long, embedding array<float>")
              .parquet(src + "/*"))
    q = stream_into("ann", stream, "e2e_ann", ckpt)
    q.awaitTermination(120)
    # a streamed vector's own copy must now be findable
    probe = (emb.filter(F.col("vec_id") == 205)
             .select(F.lit(1).alias("query_id"),
                     F.col("embedding").alias("query_vec")))
    res = ann_search_from_index(probe, "e2e_ann", k=3,
                                nprobe=2).collect()
    assert any(r["vec_id"] == 500205 for r in res), res
    for t in ("e2e_ann_codes", "e2e_ann_centroids", "e2e_ann_codebooks",
              "e2e_ann_meta", "e2e_ann_ingest_log"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_streaming_bm25_ingest_end_to_end(spark, tmp_path):
    """Documents streamed into the persisted BM25 index serve scores
    identical to a from-scratch index over everything ingested, and
    the ingest-log guard makes a replayed batch a no-op (BM25 appends
    double-count tf/df on replay, unlike the anti-join stores)."""
    from pyspark.sql import functions as F

    from pipelinedp_spark.operators.retrieval import (bm25_topk,
                                                      build_bm25_index,
                                                      bm25_topk_from_index)
    from pipelinedp_spark.streaming.dp_streaming import stream_into
    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    tables = ("e2e_bm25_postings", "e2e_bm25_terms", "e2e_bm25_meta",
              "e2e_bm25_ingest_log")
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .limit(120))
    build_bm25_index(docs.limit(0), "e2e_bm25", num_buckets=4)
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(src + "/f1.parquet")
    docs.filter(F.col("doc_id") % 2 == 1).write.parquet(src + "/f2.parquet")
    stream = (spark.readStream.schema("doc_id long, text string, "
                                      "n_chars long")
              .parquet(src + "/*").select("doc_id", "text"))
    q = stream_into("bm25", stream, "e2e_bm25", ckpt)
    q.awaitTermination(120)
    qdf = spark.sql("SELECT * FROM VALUES (0, 'hash join merge'), "
                    "(1, 'scan filter') AS t(query_id, query_text)")
    got = sorted((r["query_id"], r["doc_id"], r["rank"], r["score"])
                 for r in bm25_topk_from_index(qdf, "e2e_bm25",
                                               k=10).collect())
    want = sorted((r["query_id"], r["doc_id"], r["rank"], r["score"])
                  for r in bm25_topk(docs, qdf, k=10).collect())
    assert got == want and got
    # replay guard: re-applying a logged batch id WITHIN THE STREAM'S
    # LINEAGE (run_id = its checkpoint location) changes nothing; the
    # same batch id under a fresh lineage would apply (r11 namespacing)
    n_log = spark.table("e2e_bm25_ingest_log").count()
    assert not store.ingest_batch_once(
        "bm25", docs.filter(F.col("doc_id") % 2 == 0), "e2e_bm25", 0,
        run_id=ckpt)
    assert spark.table("e2e_bm25_ingest_log").count() == n_log
    assert sorted((r["query_id"], r["doc_id"], r["rank"], r["score"])
                  for r in bm25_topk_from_index(qdf, "e2e_bm25",
                                                k=10).collect()) == want
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
