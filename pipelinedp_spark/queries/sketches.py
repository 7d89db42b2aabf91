"""Deterministic sketches: HyperLogLog, count-min, Bloom, KMV; packing, mixing, multimodal decode.

Part of the driver-contract oracle registry (split out of
__spark_entry__.py in round 11; every query name, plan, and oracle hash
unchanged). QUERIES maps query name -> (spark, sf_dir) -> DataFrame;
ORACLES maps the same names to DuckDB-ANSI SQL strings the driver runs
side-by-side at sf0.01.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pipelinedp_spark.queries.common import _t, _two_triggers
from pipelinedp_spark.queries.text_dedup import _DEDUP_SIMHASH_SQL


def _doc_vocab_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count estimate (`sketches.hll_distinct_estimate`,
    m=1024 registers, md5-deterministic) over the corpus's word 3-grams —
    the KB-state mergeable alternative to `doc_vocab_estimate`'s KMV: no
    distinct pass at all, one map-side-combined groupBy over <= m register
    rows. One row out (raw + linear-counting-corrected estimates)."""
    from pipelinedp_spark.functions.sketches import hll_distinct_estimate
    from pipelinedp_spark.functions import text as TX
    docs = _t(spark, sf_dir, "documents")
    grams = docs.select(
        F.explode(TX._word_ngrams(F.col("text"), 3)).alias("gram"))
    return hll_distinct_estimate(grams, "gram", p=10)

_DOC_VOCAB_HLL_SQL = """
WITH tok AS (SELECT string_split(text, ' ') AS t FROM documents),
g AS (
  SELECT unnest(CASE WHEN len(t) >= 3
                     THEN [array_to_string(t[i:i+2], ' ')
                           for i in range(1, len(t) - 1)]
                     ELSE [array_to_string(t, ' ')] END) AS gram
  FROM tok),
hr AS (
  SELECT ('0x' || substr(md5('hllr:' || gram), 1, 15))::BIGINT % 1024
             AS reg,
         CAST(floor(ln(greatest(
                ('0x' || substr(md5('hllw:' || gram), 1, 15))::BIGINT
                    / 1152921504606846976.0,
                8.673617379884035e-19)) / ln(0.5)) + 1 AS INT) AS rho
  FROM g),
regs AS (SELECT reg, MAX(rho) AS mr FROM hr GROUP BY 1),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nz,
         CAST(SUM(CASE WHEN mr <= 50
                       THEN 1125899906842624::BIGINT >> mr
                       ELSE 0 END) AS BIGINT) AS present_scaled
  FROM regs),
est AS (
  SELECT nz,
         755541.746198293
           / ((present_scaled + (1024 - nz) * 1125899906842624)
              / 1125899906842624.0) AS raw
  FROM agg)
SELECT CAST(1024 AS BIGINT) AS m,
       nz AS nonzero_registers,
       ROUND(raw, 6) AS raw_estimate,
       ROUND(CASE WHEN raw <= 2560.0 AND nz < 1024
                  THEN 1024.0 * ln(1024.0 / (1024 - nz))
                  ELSE raw END, 6) AS estimate
FROM est
"""

def _token_freq_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimates (`sketches.cms_counters` /
    `cms_estimate`, depth=4, width=1024, md5-deterministic): corpus
    token counts reduced to a <= 4096-row integer counter table (one
    map-side-combined shuffle of a 2-int projection), then point-queried
    for every distinct token of the probe docs (doc_id % 199 == 0) via
    a broadcast of the counters and an integer min over the 4 rows.
    Estimates are exact upper bounds (never under the true count)."""
    from pipelinedp_spark.functions.sketches import cms_counters, cms_estimate
    from pipelinedp_spark.functions import text as TX
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(TX.tokens(F.col("text"))).alias("tok"))
    counters = cms_counters(toks, "tok", depth=4, width=1024)
    probe = (docs.filter(F.col("doc_id") % 199 == 0)
             .select(F.explode(TX.tokens(F.col("text"))).alias("tok")))
    return cms_estimate(counters, probe, "tok", depth=4, width=1024)

_TOKEN_FREQ_CMS_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
ctr AS (
  SELECT j,
         ('0x' || substr(md5('cms' || j || ':' || tok), 1, 15))::BIGINT
             % 1024 AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM tok, (SELECT unnest(range(4)) AS j) r
  GROUP BY 1, 2),
pr AS (SELECT DISTINCT tok FROM tok WHERE doc_id % 199 = 0),
pj AS (
  SELECT tok, j,
         ('0x' || substr(md5('cms' || j || ':' || tok), 1, 15))::BIGINT
             % 1024 AS bucket
  FROM pr, (SELECT unnest(range(4)) AS j) r)
SELECT pj.tok, CAST(MIN(COALESCE(ctr.cnt, 0)) AS BIGINT) AS est_count
FROM pj LEFT JOIN ctr USING (j, bucket)
GROUP BY 1 ORDER BY 1
"""

def _doc_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered decontamination (`decontam.decontaminate_bloom`):
    same eval split and 3-gram overlap rule as `doc_decontaminate`, but
    the corpus grams probe a 4 KiB Bloom word table (broadcast) and only
    Bloom-positive occurrences reach the exact confirm join — the shape
    for eval suites too large to broadcast as exact hash sets. m_bits is
    deliberately small here so false positives occur and the confirm
    join is exercised; the output (kept doc_ids) is identical to exact
    decontamination, which IS the oracle."""
    from pipelinedp_spark.operators.decontam import decontaminate_bloom
    docs = _t(spark, sf_dir, "documents")
    evald = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    kept = decontaminate_bloom(train, evald, n=3, max_hits=0,
                               m_bits=1 << 15, num_hashes=3)
    return kept.select("doc_id")

_DOC_DECONTAM_BLOOM_SQL = """
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
gr AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN [array_to_string(t[i:i+2], ' ')
                    for i in range(1, len(t) - 1)]
              ELSE [array_to_string(t, ' ')] END AS grams
  FROM tok),
ev AS (
  SELECT DISTINCT ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
  FROM gr, UNNEST(grams) AS u(g)
  WHERE doc_id % 97 = 0),
bad AS (
  SELECT DISTINCT doc_id
  FROM (SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
        FROM gr, UNNEST(grams) AS u(g)
        WHERE doc_id % 97 <> 0) c
  JOIN ev USING (h))
SELECT doc_id FROM documents
WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
ORDER BY doc_id
"""

def _events_windowed_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day distinct-user estimates via grouped HyperLogLog
    (`sketches.hll_distinct_estimate_by`, m=256): the batch mirror of
    `streaming.streaming_distinct_hll` (same md5 registers, same
    integer-scaled estimate — the streaming state merged per trigger
    equals this exactly). Two map-side-combined shuffles, <= 256
    register rows per day."""
    from pipelinedp_spark.functions.sketches import hll_distinct_estimate_by
    ev = _t(spark, sf_dir, "events")
    day_us = 86_400_000_000
    ev = ev.select(
        F.floor(F.col("ts") / F.lit(day_us)).cast("long").alias("day"),
        F.col("user_id"))
    return hll_distinct_estimate_by(ev, "user_id", ["day"], p=8)

_EVENTS_WINDOWED_HLL_SQL = """
WITH ev AS (
  SELECT CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day,
         CAST(user_id AS VARCHAR) AS v
  FROM events),
hr AS (
  SELECT day,
         ('0x' || substr(md5('hllr:' || v), 1, 15))::BIGINT % 256 AS reg,
         CAST(floor(ln(greatest(
                ('0x' || substr(md5('hllw:' || v), 1, 15))::BIGINT
                    / 1152921504606846976.0,
                8.673617379884035e-19)) / ln(0.5)) + 1 AS INT) AS rho
  FROM ev),
regs AS (SELECT day, reg, MAX(rho) AS mr FROM hr GROUP BY 1, 2),
agg AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS nz,
         CAST(SUM(CASE WHEN mr <= 50
                       THEN 1125899906842624::BIGINT >> mr
                       ELSE 0 END) AS BIGINT) AS ps
  FROM regs GROUP BY 1),
est AS (
  SELECT day, nz,
         47072.71267120224
           / ((ps + (256 - nz) * 1125899906842624)
              / 1125899906842624.0) AS raw
  FROM agg)
SELECT day, CAST(256 AS BIGINT) AS m, nz AS nonzero_registers,
       ROUND(raw, 6) AS raw_estimate,
       ROUND(CASE WHEN raw <= 640.0 AND nz < 256
                  THEN 256.0 * ln(256.0 / (256 - nz))
                  ELSE raw END, 6) AS estimate
FROM est ORDER BY 1
"""

def _vocab_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus vocabulary overlap from KMV/theta sketches
    (`sketches.kmv_overlap_estimate`, k=512): Jaccard + intersection +
    union estimates between the English and French corpora's token
    sets — the pre-pass that prices a cross-corpus dedup before paying
    its shuffle. Per side one distinct hash projection; one 512-row
    TakeOrderedAndProject over the merged sets. One row out."""
    from pipelinedp_spark.functions import text as TX
    from pipelinedp_spark.functions.sketches import kmv_overlap_estimate
    docs = _t(spark, sf_dir, "documents")
    en = (docs.filter(F.col("lang") == "en")
          .select(F.explode(TX.tokens(F.col("text"))).alias("tok")))
    fr = (docs.filter(F.col("lang") == "fr")
          .select(F.explode(TX.tokens(F.col("text"))).alias("tok")))
    return kmv_overlap_estimate(en, fr, "tok", k=512)

_VOCAB_OVERLAP_KMV_SQL = """
WITH tok AS (
  SELECT lang, unnest(string_split(text, ' ')) AS tok
  FROM documents WHERE lang IN ('en', 'fr')),
ha AS (SELECT DISTINCT
         ('0x' || substr(md5('kmv:' || tok), 1, 15))::BIGINT
             / 1152921504606846976.0 AS h
       FROM tok WHERE lang = 'en'),
hb AS (SELECT DISTINCT
         ('0x' || substr(md5('kmv:' || tok), 1, 15))::BIGINT
             / 1152921504606846976.0 AS h
       FROM tok WHERE lang = 'fr'),
mg AS (
  SELECT COALESCE(ha.h, hb.h) AS h,
         CASE WHEN ha.h IS NULL THEN 0 ELSE 1 END AS in_a,
         CASE WHEN hb.h IS NULL THEN 0 ELSE 1 END AS in_b
  FROM ha FULL OUTER JOIN hb ON ha.h = hb.h),
s AS (SELECT * FROM mg ORDER BY h LIMIT 512)
SELECT CAST(COUNT(*) AS BIGINT) AS k_used,
       MAX(h) AS kth_min,
       ROUND(CASE WHEN COUNT(*) < 512 THEN CAST(COUNT(*) AS DOUBLE)
                  ELSE (512.0 - 1.0) / MAX(h) END, 6) AS union_est,
       ROUND(CAST(SUM(in_a * in_b) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS jaccard_est,
       ROUND((CAST(SUM(in_a * in_b) AS DOUBLE)
              / CAST(COUNT(*) AS DOUBLE))
             * (CASE WHEN COUNT(*) < 512 THEN CAST(COUNT(*) AS DOUBLE)
                     ELSE (512.0 - 1.0) / MAX(h) END), 6)
           AS intersection_est
FROM s
"""

def _doc_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing (`sampling.temperature_sample`,
    alpha=0.5, total=200): per-source quotas proportional to
    n_s^alpha — the pretraining-mixture rule that upweights small
    sources — each source contributing its lowest-md5-hash docs. One
    count agg, a source-sized broadcast quota table, one per-source
    WindowGroupLimit."""
    from pipelinedp_spark.functions.sampling import temperature_sample
    docs = _t(spark, sf_dir, "documents")
    return (temperature_sample(docs, "source", "doc_id",
                               total=200, alpha=0.5)
            .select("doc_id", "source"))

_DOC_TEMPERATURE_MIX_SQL = """
WITH c AS (SELECT source, CAST(COUNT(*) AS DOUBLE) AS n
           FROM documents GROUP BY 1),
z AS (SELECT SUM(pow(n, 0.5)) AS z FROM c),
q AS (SELECT source,
             CAST(FLOOR(200.0 * pow(n, 0.5) / z) AS BIGINT) AS quota
      FROM c, z),
r AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY ('0x' || substr(md5('temp:'
                        || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                    / 1152921504606846976.0 ASC,
                    doc_id ASC) AS rn
  FROM documents)
SELECT r.doc_id, r.source
FROM r JOIN q USING (source)
WHERE rn <= quota
ORDER BY 1
"""

def _multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup via perceptual hashing (`multimodal.phash_dedup`):
    each doc renders one of 17 fixed 32x32 frequency patterns (class =
    doc_id % 17) PLUS a per-doc brightness offset (doc_id % 9) * 5 —
    byte-level dedup (md5 content hash) sees every image as unique, but
    pHash is brightness-shift invariant (the offset moves only the
    excluded DC coefficient), so images collapse exactly to their
    pattern class (verified: one hash per class, cross-class Hamming
    >= 20; pinned in tests/test_multimodal_native.py). Real BMP bytes
    in between, real decode on the way out. The oracle states the
    planted truth: dup iff a smaller doc_id shares the class."""
    import numpy as np
    import pandas as pd
    from pipelinedp_spark.operators import multimodal as MM

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(it):
        i, j = np.meshgrid(np.arange(32), np.arange(32), indexing="ij")
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            payloads = []
            for d in ids:
                g = int(d) % 17
                base = (11 * ((i * i * (g + 2) + 3 * j) % 29)
                        + 5 * ((7 * i + (g + 5) * j * j) % 31)
                        + g * 17) % 200
                px = (base + (int(d) % 9) * 5).astype(np.uint8)
                payloads.append(MM.encode_bmp(px))
            yield pd.DataFrame({"doc_id": ids, "image": payloads})

    imgs = docs.mapInPandas(gen, "doc_id long, image binary")
    return (MM.phash_dedup(imgs, "image", "doc_id")
            .select("doc_id", "is_dup"))

_MULTIMODAL_PHASH_SQL = """
SELECT doc_id,
       doc_id > MIN(doc_id) OVER (PARTITION BY doc_id % 17) AS is_dup
FROM documents
ORDER BY doc_id
"""

def _multimodal_phash_incremental(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Incremental image dedup against a PERSISTED pHash index
    (`multimodal.build_phash_store` + `incremental_phash_dedup`): the
    reference corpus = even-id docs whose pattern class (doc_id % 17)
    is < 12, indexed once as bucketed bit-blocks + hashes; the odd-id
    'new crawl' batch renders the same 17 brightness-shifted BMP
    patterns and is flagged against the store with zero store-side
    shuffle and no reference re-decode. Planted truth: an odd doc is a
    dup iff its class is < 12 (classes 12-16 exist only outside the
    reference). max_hamming=2 exercises the pigeonhole block join
    (planted matches are Hamming 0, cross-class >= 20)."""
    import numpy as np
    import pandas as pd
    from pipelinedp_spark.operators import multimodal as MM

    # the render + pHash pass is Python-bound: spread it over all
    # cores, not the source parquet's file-partition count
    docs = (_t(spark, sf_dir, "documents").select("doc_id")
            .repartition(32))

    def gen(it):
        i, j = np.meshgrid(np.arange(32), np.arange(32), indexing="ij")
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            payloads = []
            for d in ids:
                g = int(d) % 17
                base = (11 * ((i * i * (g + 2) + 3 * j) % 29)
                        + 5 * ((7 * i + (g + 5) * j * j) % 31)
                        + g * 17) % 200
                px = (base + (int(d) % 9) * 5).astype(np.uint8)
                payloads.append(MM.encode_bmp(px))
            yield pd.DataFrame({"doc_id": ids, "image": payloads})

    # render + decode + pHash ONCE for the whole corpus: without the
    # shared profile the un-checkpointed render ran twice (once under
    # the build's reference pass, once under the batch dedup pass) —
    # the render is the query's dominant Python-bound cost
    hp = (MM.image_phash(
              docs.mapInPandas(gen, "doc_id long, image binary"))
          .select("doc_id", "phash").localCheckpoint())
    ref = hp.filter((F.col("doc_id") % 2 == 0)
                    & (F.col("doc_id") % 17 < 12))
    batch = hp.filter(F.col("doc_id") % 2 == 1)
    MM.build_phash_store(ref, "phash_store_r9", max_hamming=2,
                         num_blocks=4, hashed=ref)
    out = (MM.incremental_phash_dedup(batch, "phash_store_r9",
                                      hashed=batch)
           .select("doc_id", "is_dup").localCheckpoint())
    for t in ("phash_store_r9_blocks", "phash_store_r9_members",
              "phash_store_r9_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    return out

_MULTIMODAL_PHASH_INCR_SQL = """
SELECT doc_id, (doc_id % 17) < 12 AS is_dup
FROM documents
WHERE doc_id % 2 = 1
ORDER BY doc_id
"""

def _multimodal_phash_takedown(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """PER-IMAGE right-to-be-forgotten on the persisted pHash index
    (`multimodal.remove_from_phash_store`, r11 semantics): same 17
    planted visual classes as `multimodal_phash_incremental` (ref =
    even ids, class < 12; batch = odd ids). Takedown: ALL reference
    members of classes 6-8 (their family fingerprints must die) and
    all-but-the-minimum-id member of classes 0-5 (a PARTIAL removal —
    one survivor keeps each family's fingerprint alive). Planted
    truth, mirrored by the oracle: an odd doc is flagged iff its class
    is < 12 and not in {6,7,8} — exactly a fresh index built without
    the removed images. Idempotency is exercised in-query: the partial
    set is removed twice."""
    import numpy as np
    import pandas as pd
    from pipelinedp_spark.operators import multimodal as MM

    docs = (_t(spark, sf_dir, "documents").select("doc_id")
            .repartition(32))

    def gen(it):
        i, j = np.meshgrid(np.arange(32), np.arange(32), indexing="ij")
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            payloads = []
            for d in ids:
                g = int(d) % 17
                base = (11 * ((i * i * (g + 2) + 3 * j) % 29)
                        + 5 * ((7 * i + (g + 5) * j * j) % 31)
                        + g * 17) % 200
                px = (base + (int(d) % 9) * 5).astype(np.uint8)
                payloads.append(MM.encode_bmp(px))
            yield pd.DataFrame({"doc_id": ids, "image": payloads})

    # render + decode + pHash ONCE: filters can't push below
    # mapInPandas, so without a shared profile every downstream pass
    # (build, two removals, the idempotency re-removal, the batch
    # dedup) re-decoded its slice of the corpus — ~1.7 corpus-
    # equivalents across 5 decode jobs, and the materialized frame
    # carried the image BYTES. The checkpointed (doc_id, phash)
    # profile replaces all of it; every consumer takes `hashed=`.
    hp = (MM.image_phash(
              docs.mapInPandas(gen, "doc_id long, image binary"))
          .select("doc_id", "phash").localCheckpoint())
    ref = hp.filter((F.col("doc_id") % 2 == 0)
                    & (F.col("doc_id") % 17 < 12))
    batch = hp.filter(F.col("doc_id") % 2 == 1)
    MM.build_phash_store(ref, "phash_tk_r11", max_hamming=2,
                         num_blocks=4, hashed=ref)
    cand = ref.withColumn("cls", F.col("doc_id") % 17) \
        .filter(F.col("cls") < 9)
    keep = (cand.filter(F.col("cls") < 6).groupBy("cls")
            .agg(F.min("doc_id").alias("doc_id")).select("doc_id"))
    rm = cand.join(keep, "doc_id", "left_anti").select("doc_id",
                                                       "phash")
    partial = rm.filter(F.col("doc_id") % 17 < 6).localCheckpoint()
    MM.remove_from_phash_store(partial, "phash_tk_r11",
                               hashed=partial)
    rm_rest = rm.filter(F.col("doc_id") % 17 >= 6)
    MM.remove_from_phash_store(rm_rest, "phash_tk_r11",
                               hashed=rm_rest)
    # re-removing already-removed images must be a no-op
    MM.remove_from_phash_store(partial, "phash_tk_r11",
                               hashed=partial)
    out = (MM.incremental_phash_dedup(batch, "phash_tk_r11",
                                      hashed=batch)
           .select("doc_id", "is_dup").localCheckpoint())
    for t in ("phash_tk_r11_blocks", "phash_tk_r11_members",
              "phash_tk_r11_meta", "phash_tk_r11_tombstones",
              "phash_tk_r11_removed_ids"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    return out

_MULTIMODAL_PHASH_TAKEDOWN_SQL = """
SELECT doc_id,
       ((doc_id % 17) < 12 AND (doc_id % 17) NOT IN (6, 7, 8)) AS is_dup
FROM documents
WHERE doc_id % 2 = 1
ORDER BY doc_id
"""

def _multimodal_audio_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup via spectral fingerprints (`multimodal.audio_dedup`,
    Haitsma-Kalker flux bits): each doc renders one of 17 fixed
    three-sinusoid waveforms (class = doc_id % 17) at a per-doc gain of
    2^(doc_id % 5) — byte hashes all differ, but the fingerprint's
    difference signs are gain-invariant (power-of-two gains scale every
    FFT intermediate exactly in IEEE arithmetic, so invariance is exact
    here; under re-quantized arbitrary gains it is approximate), so
    clips collapse to their waveform class (cross-class Hamming >= 22;
    pinned in tests). Real WAV bytes in between, real decode on the way
    out. Oracle = the planted class truth."""
    import numpy as np
    import pandas as pd
    from pipelinedp_spark.operators import multimodal as MM

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(it):
        n, sr = 4096, 8000
        t = np.arange(n) / sr
        bases = {}
        for g in range(17):
            f1, f2 = 200 + 60 * g, 900 + 37 * g
            w = (np.sin(2 * np.pi * f1 * t)
                 + 0.5 * np.sin(2 * np.pi * f2 * t)
                 + 0.25 * np.sin(2 * np.pi * (f1 * 2.3 + 11 * g) * t))
            bases[g] = np.round(1000 * w).astype(np.int16)
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            payloads = [
                MM.encode_wav(
                    (bases[int(d) % 17] * (1 << (int(d) % 5)))
                    .astype(np.int16), sr)
                for d in ids]
            yield pd.DataFrame({"doc_id": ids, "audio": payloads})

    clips = docs.mapInPandas(gen, "doc_id long, audio binary")
    return (MM.audio_dedup(clips, "audio", "doc_id")
            .select("doc_id", "is_dup"))

_MULTIMODAL_AUDIO_DEDUP_SQL = """
SELECT doc_id,
       doc_id > MIN(doc_id) OVER (PARTITION BY doc_id % 17) AS is_dup
FROM documents
ORDER BY doc_id
"""

def _doc_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide line dedup (`dedup.line_dedup`, RefinedWeb/CCNet
    boilerplate removal, grouped by source): docs are made multi-line
    deterministically on BOTH sides (five frequent words become
    newlines),
    then any line shared by >= 2 distinct docs of the same source is
    stripped from all of them and the text is rebuilt in order. One
    posexplode, two map-side aggs on the 60-bit line hash, one
    (source, hash) equi-join, one groupBy(doc) rebuild — no windows."""
    from pipelinedp_spark.operators import dedup
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source",
        F.regexp_replace(F.col("text"), " (the|a|data|value|row) ",
                         "\n").alias("text"))
    return dedup.line_dedup(docs, min_docs=2, group_col="source")

_DOC_LINE_DEDUP_SQL = """
WITH base AS (
  SELECT doc_id, source,
         regexp_replace(text, ' (the|a|data|value|row) ', chr(10), 'g') AS t
  FROM documents
),
lines AS (
  SELECT doc_id, source,
         UNNEST(string_split(t, chr(10))) AS line,
         generate_subscripts(string_split(t, chr(10)), 1) AS pos
  FROM base
),
dup AS (
  SELECT source, line
  FROM (SELECT source, line, COUNT(DISTINCT doc_id) AS nd
        FROM lines WHERE trim(line) <> '' GROUP BY 1, 2)
  WHERE nd >= 2
),
tagged AS (
  SELECT l.doc_id, l.line, l.pos,
         (d.line IS NOT NULL AND trim(l.line) <> '') AS removed
  FROM lines l
  LEFT JOIN dup d ON l.source = d.source AND l.line = d.line
)
SELECT doc_id,
       COALESCE(string_agg(line, chr(10) ORDER BY pos)
                FILTER (WHERE NOT removed), '') AS clean_text,
       COUNT(*) AS n_lines,
       CAST(SUM(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT)
         AS n_removed
FROM tagged
GROUP BY doc_id
"""

def _multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVI/MJPEG frame sampling (`video.sample_video_frames_avi`): each
    doc renders a real RIFF/AVI container with 6 + doc_id%5 MJPEG frames
    (frame i = solid gray 32 + 64*((doc_id+i)%4), encoded by the
    package's own JPEG codec), then every 2nd frame is demux-sampled and
    DECODED; the recovered mean luma collapses to its planted class
    (64-wide bins, JPEG error ~1 gray level). Real container mux, real
    demux walk, real DCT decode on the way out. Oracle = the plant."""
    import numpy as np
    import pandas as pd
    from pipelinedp_spark.operators import video as V
    from pipelinedp_spark.operators.jpeg import encode_jpeg

    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .repartition(spark.sparkContext.defaultParallelism)

    def gen(it):
        cell = [encode_jpeg(np.full((16, 16, 3), 32 + 64 * c,
                                    dtype=np.uint8)) for c in range(4)]
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            vids = [V.encode_avi_mjpeg(
                        [cell[(int(d) + i) % 4]
                         for i in range(6 + int(d) % 5)], 16, 16)
                    for d in ids]
            yield pd.DataFrame({"doc_id": ids, "video": vids})

    clips = docs.mapInPandas(gen, "doc_id long, video binary")
    frames = V.sample_video_frames_avi(clips, "video", "doc_id",
                                       every_nth=2, decode=True)
    return frames.select(
        "doc_id", "frame_idx", "width", "height",
        F.round((F.col("mean_luma") - 32) / 64).cast("long")
        .alias("luma_class"))

_MULTIMODAL_VIDEO_FRAMES_SQL = """
WITH f AS (
  SELECT doc_id, UNNEST(range(0, 6 + doc_id % 5)) AS i
  FROM documents
)
SELECT doc_id,
       CAST(i AS BIGINT) AS frame_idx,
       CAST(16 AS INTEGER) AS width,
       CAST(16 AS INTEGER) AS height,
       CAST((doc_id + i) % 4 AS BIGINT) AS luma_class
FROM f
WHERE i % 2 = 0
"""

def _doc_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + registered-domain stats
    (`functions.urls`): each doc gets a deterministically messy URL
    (upper-cased scheme/host, default :443 port, utm tracking params,
    unsorted params, fragments — all keyed off doc_id), which the
    engine canonicalizes, domain-extracts (incl. the co.uk two-label
    suffix path), and annotates with a broadcast per-domain doc count.
    Everything is codegen column expressions — zero Python per row.
    Oracle = the planted canonical form."""
    from pipelinedp_spark.functions import urls as U

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id").cast("string")
    k = (F.col("doc_id") % 23).cast("string")
    m2, m3 = F.col("doc_id") % 2, F.col("doc_id") % 3
    m4, m5 = F.col("doc_id") % 4, F.col("doc_id") % 5
    raw = F.concat(
        F.when(m2 == 0, F.lit("https://")).otherwise(F.lit("HTTPS://")),
        F.when(m3 == 0, F.concat(F.lit("WWW.Site"), k, F.lit(".COM")))
         .when(m3 == 1, F.concat(F.lit("Site"), k, F.lit(".co.uk:443")))
         .otherwise(F.concat(F.lit("m.site"), k, F.lit(".com"))),
        F.lit("/p/"), d,
        F.when(m4 == 0, F.lit("?utm_source=feed&b=2&a=1"))
         .when(m4 == 1, F.lit("?b=2&a=1"))
         .when(m4 == 2, F.lit("?utm_campaign=x"))
         .otherwise(F.lit("")),
        F.when(m5 == 0, F.lit("#sec")).otherwise(F.lit("")))
    pages = docs.withColumn("url", raw)
    out = U.with_domain_counts(pages, "url")
    return out.select(
        "doc_id",
        U.canonicalize_url(F.col("url")).alias("canon_url"),
        "domain", "n_in_domain")

_DOC_URL_CANONICALIZE_SQL = """
WITH p AS (
  SELECT doc_id, doc_id % 23 AS k, doc_id % 3 AS m3, doc_id % 4 AS m4
  FROM documents
),
e AS (
  SELECT doc_id,
         CASE m3 WHEN 0 THEN 'www.site' || k || '.com'
                 WHEN 1 THEN 'site' || k || '.co.uk'
                 ELSE 'm.site' || k || '.com' END AS ch,
         CASE m3 WHEN 1 THEN 'site' || k || '.co.uk'
                 ELSE 'site' || k || '.com' END AS domain,
         CASE WHEN m4 IN (0, 1) THEN '?a=1&b=2' ELSE '' END AS q
  FROM p
)
SELECT doc_id,
       'https://' || ch || '/p/' || doc_id || q AS canon_url,
       domain,
       COUNT(*) OVER (PARTITION BY domain) AS n_in_domain
FROM e
"""

def _multimodal_video_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup via sampled-frame perceptual hashing
    (`video.video_dedup`): each doc renders a real AVI whose first 8
    MJPEG frames cycle 4 textures of its class (doc_id % 11) and whose
    tail appends 0-3 doc-specific junk frames; sampling every 2nd frame
    capped at 4 pins the compared prefix, so the per-bit-majority
    fingerprint collapses exactly to the class (the 11 class
    fingerprints are distinct — random low-frequency textures). Real mux, real
    demux, real JPEG decode + DCT pHash per sampled frame. Oracle =
    the planted class truth."""
    import numpy as np
    import pandas as pd
    from pipelinedp_spark.operators import video as V
    from pipelinedp_spark.operators.jpeg import encode_jpeg

    # Repartition the 8-byte id rows BEFORE the expensive render pass so
    # parallelism is core-bound, not input-file-bound (sf1 ships 8 files).
    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .repartition(spark.sparkContext.defaultParallelism)

    def gen(it):
        def texture(seed):
            # Low-frequency texture (4x4 noise upsampled 4x): decodes
            # ~4x faster than raw noise (sparse post-quant spectrum)
            # and concentrates energy exactly where pHash looks.
            rng = np.random.default_rng(seed)
            base = rng.integers(0, 256, (4, 4, 3)).astype(np.uint8)
            return encode_jpeg(np.kron(base, np.ones((4, 4, 1),
                                                     dtype=np.uint8)))
        cls = {c: [texture(c * 4 + j) for j in range(4)]
               for c in range(11)}
        junk = [texture(100_000 + j) for j in range(64)]  # memoized pool
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            vids = []
            for d in ids:
                d = int(d)
                frames = [cls[d % 11][i % 4] for i in range(8)]
                frames += [junk[(d * 16 + j) % 64] for j in range(d % 4)]
                vids.append(V.encode_avi_mjpeg(frames, 16, 16))
            yield pd.DataFrame({"doc_id": ids, "video": vids})

    clips = docs.mapInPandas(gen, "doc_id long, video binary")
    # keyframe mode = the scale path (one decode per video instead of
    # max_frames); flags are identical to the majority vote on this
    # corpus — the class is already decided by frame 0 — and the
    # majority path stays pinned by test_sources_multimodal_streaming.
    return (V.video_dedup(clips, "video", "doc_id",
                          every_nth=2, max_frames=4, mode="keyframe")
            .select("doc_id", "is_dup"))

_MULTIMODAL_VIDEO_DEDUP_SQL = """
SELECT doc_id,
       doc_id > MIN(doc_id) OVER (PARTITION BY doc_id % 11) AS is_dup
FROM documents
"""

def _multimodal_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native image resize, oracle-exact (`multimodal.resize_images` ->
    `image_pixel_stats`): each doc renders a gray BMP of planted size
    (8+d%5 x 8+d%7) with pixel v(y,x) = (d + 7y + 13x) % 256, resized
    to 4x4 with the engine's nearest-neighbor resampler (rows
    (i*h)//4, cols (j*w)//4) and re-encoded; the decoded pixel sum of
    the OUTPUT bytes must equal the closed-form plant — integer-exact
    end-to-end (BMP is lossless, gray luma == v). Oracle = the same
    index arithmetic in SQL."""
    import numpy as np
    import pandas as pd
    from pipelinedp_spark.operators import multimodal as MM

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(it):
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            imgs, metas = [], []
            for d in ids:
                d = int(d)
                w, h = 8 + d % 5, 8 + d % 7
                y, x = np.mgrid[0:h, 0:w]
                v = ((d + 7 * y + 13 * x) % 256).astype(np.uint8)
                imgs.append(MM.encode_bmp(np.stack([v, v, v], axis=2)))
                metas.append({"width": w, "height": h, "format": "bmp"})
            yield pd.DataFrame({"doc_id": ids, "image": imgs,
                                "meta": metas})

    imgs = docs.mapInPandas(
        gen, "doc_id long, image binary, "
             "meta struct<width:int,height:int,format:string>")
    resized = MM.resize_images(imgs, "image", "meta",
                               width=4, height=4, decoder="native")
    return MM.image_pixel_stats(resized, "image").select(
        "doc_id", "px_width", "px_height", "px_sum")

_MULTIMODAL_RESIZE_STATS_SQL = """
WITH p AS (
  SELECT doc_id, 8 + doc_id % 5 AS w, 8 + doc_id % 7 AS h
  FROM documents
),
g AS (SELECT doc_id, w, h, UNNEST(range(0, 4)) AS i FROM p),
gg AS (SELECT doc_id, w, h, i, UNNEST(range(0, 4)) AS j FROM g)
SELECT doc_id,
       CAST(4 AS INTEGER) AS px_width,
       CAST(4 AS INTEGER) AS px_height,
       CAST(SUM((doc_id + 7 * ((i * h) // 4) + 13 * ((j * w) // 4))
                % 256) AS BIGINT) AS px_sum
FROM gg
GROUP BY doc_id
"""

def _dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup survivor selection
    (`graph.keep_best_representative`): the simhash near-dup clusters
    from dedup_clusters, but each cluster keeps its LONGEST document
    (n_chars, ties to smallest id) instead of the minimum id — the
    production rule (keep the best copy). One max(struct) agg per
    cluster, no windows. Oracle = the recursive-CTE closure plus a
    per-cluster argmax."""
    from pipelinedp_spark.operators import dedup, graph
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.simhash_pairs(docs, max_hamming=3)
    clusters = graph.near_dup_clusters(docs, pairs)
    return graph.keep_best_representative(docs, clusters, "n_chars")

def _gen_dedup_keep_best_sql() -> str:
    pair_sql = _DEDUP_SIMHASH_SQL.replace("ORDER BY 1, 2", "")
    return f"""
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({pair_sql})
),
und AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT und.u, reach.lbl FROM und JOIN reach ON reach.node = und.v
),
cluster AS (
  SELECT node AS doc_id, MIN(lbl) AS cluster_id
  FROM reach GROUP BY node
)
SELECT c.doc_id, c.cluster_id,
       ROW_NUMBER() OVER (
         PARTITION BY c.cluster_id
         ORDER BY d.n_chars DESC, c.doc_id ASC) = 1 AS is_kept
FROM cluster c JOIN documents d USING (doc_id)
"""

def _doc_paragraph_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet paragraph-level LM filtering
    (`quality.paragraph_perplexity_filter`, max_ppl=60): docs made
    multi-paragraph deterministically (five frequent words become
    newlines), each paragraph scored under the corpus-fit unigram LM,
    rare-token paragraphs (ppl > 60) dropped, docs rebuilt in order.
    Oracle recomputes the identical model and threshold in SQL."""
    from pipelinedp_spark.operators import quality
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(F.col("text"), " (the|a|data|value|row) ",
                         "\n").alias("text"))
    return quality.paragraph_perplexity_filter(docs, max_ppl=60.0)

def _gen_paragraph_filter_sql(sf_dir: str = "/root/testdata/sf0.01") -> str:
    """SQL mirror of `quality.paragraph_perplexity_filter`: ln(N) is
    computed once in Python and injected as a literal into BOTH sides
    (the operator does the same), so the only cross-engine drift is
    last-ulp libm ln per token under the 6dp round."""
    import math
    import duckdb
    n = duckdb.sql(f"""
WITH base AS (SELECT regexp_replace(text, ' (the|a|data|value|row) ',
                                    chr(10), 'g') AS t
              FROM read_parquet('{sf_dir}/documents.parquet')),
paras AS (SELECT UNNEST(string_split(t, chr(10))) AS para FROM base)
SELECT SUM(len(string_split(para, ' '))) FROM paras""").fetchone()[0]
    ln_n = repr(math.log(float(n)))
    return f"""
WITH base AS (
  SELECT doc_id, regexp_replace(text, ' (the|a|data|value|row) ',
                                chr(10), 'g') AS t
  FROM documents
),
paras AS (
  SELECT doc_id, UNNEST(string_split(t, chr(10))) AS para,
         generate_subscripts(string_split(t, chr(10)), 1) AS pos
  FROM base
),
toks AS (
  SELECT doc_id, pos, unnest(string_split(para, ' ')) AS tok FROM paras
),
vocab AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS c FROM toks GROUP BY tok),
ppl AS (
  SELECT doc_id, pos,
         ROUND(EXP({ln_n} - SUM(LN(c)) / COUNT(*)), 6) AS p
  FROM toks JOIN vocab USING (tok) GROUP BY doc_id, pos
),
tagged AS (
  SELECT paras.doc_id, paras.pos, paras.para, ppl.p > 60.0 AS dropped
  FROM paras JOIN ppl ON paras.doc_id = ppl.doc_id
                     AND paras.pos = ppl.pos
)
SELECT doc_id,
       COALESCE(string_agg(para, chr(10) ORDER BY pos)
                FILTER (WHERE NOT dropped), '') AS clean_text,
       COUNT(*) AS n_paragraphs,
       CAST(SUM(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped
FROM tagged
GROUP BY doc_id
"""

def _stream_line_dedup_mirror(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch mirror of `streaming.streaming_line_dedup` with exact
    two-trigger semantics: micro-batch 1 = even-id docs (boilerplate =
    lines in >= 2 distinct even docs), micro-batch 2 = odd-id docs
    (boilerplate counted against batch 1's accumulated state PLUS the
    odd batch itself). Same multiline transform as doc_line_dedup.
    The oracle replays both batches' cumulative count rules in SQL."""
    from pipelinedp_spark.streaming.dp_streaming import line_dedup_batch
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(F.col("text"), " (the|a|data|value|row) ",
                         "\n").alias("text"))
    return _two_triggers(
        docs, "doc_id", lambda b, state: line_dedup_batch(
            b, state, materialize=state is None))

_STREAM_LINE_DEDUP_MIRROR_SQL = """
WITH base AS (
  SELECT doc_id,
         regexp_replace(text, ' (the|a|data|value|row) ', chr(10), 'g') AS t
  FROM documents
),
lines AS (
  SELECT doc_id, doc_id % 2 AS par,
         UNNEST(string_split(t, chr(10))) AS line,
         generate_subscripts(string_split(t, chr(10)), 1) AS pos
  FROM base
),
ce AS (
  SELECT line, COUNT(DISTINCT doc_id) AS nd FROM lines
  WHERE par = 0 AND trim(line) <> '' GROUP BY 1
),
co AS (
  SELECT line, COUNT(DISTINCT doc_id) AS nd FROM lines
  WHERE par = 1 AND trim(line) <> '' GROUP BY 1
),
tagged AS (
  SELECT l.doc_id, l.par, l.line, l.pos,
         (trim(l.line) <> '' AND
          CASE WHEN l.par = 0 THEN COALESCE(ce.nd, 0) >= 2
               ELSE COALESCE(ce.nd, 0) + COALESCE(co.nd, 0) >= 2
          END) AS removed
  FROM lines l
  LEFT JOIN ce ON l.line = ce.line
  LEFT JOIN co ON l.line = co.line
)
SELECT doc_id,
       COALESCE(string_agg(line, chr(10) ORDER BY pos)
                FILTER (WHERE NOT removed), '') AS clean_text,
       COUNT(*) AS n_lines,
       CAST(SUM(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT)
         AS n_removed,
       CAST(par AS BIGINT) AS batch
FROM tagged
GROUP BY doc_id, par
"""

def _doc_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget curation (`mixing.select_to_token_budget`, budget =
    40000): docs ranked by token count DESC (id tiebreak, both folded
    into one unique ascending key) are taken greedily while the
    cumulative token count stays within budget — the prefix sum is the
    distributed two-phase running_sum, not a single-task window. Oracle
    = the same cumulative rule as a SQL window."""
    from pipelinedp_spark.operators.mixing import select_to_token_budget
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_toks"))
    # unique ascending priority key: more tokens first, then smaller id
    # (n_toks < 2^20, doc_id < 2^40 at any test SF)
    keyed = toks.withColumn(
        "__ord__",
        (-F.col("n_toks") * F.lit(1 << 40) + F.col("doc_id"))
        .cast("long"))
    out = select_to_token_budget(keyed, 40000, "n_toks", "__ord__")
    return out.select("doc_id", "n_toks",
                      F.col("cum_tokens").cast("long").alias("cum_tokens"))

_DOC_TOKEN_BUDGET_SQL = """
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
  FROM documents
),
c AS (
  SELECT doc_id, n_toks,
         SUM(n_toks) OVER (ORDER BY n_toks DESC, doc_id ASC
                           ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM t
)
SELECT doc_id, n_toks, CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM c WHERE cum_tokens <= 40000
"""

def _doc_wet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-archive ingestion (`sources.webcrawl`): docs are packed into
    one multi-record WET archive blob PER SOURCE (applyInPandas — the
    Common Crawl file shape: many conversion records per archive), then
    `extract_wet_records` fans the blobs back out to one row per record
    and the doc id is recovered from the WARC-Target-URI. Exercises the
    length-driven (Content-Length) record walk end-to-end; oracle = the
    original documents table."""
    import pandas as pd
    from pipelinedp_spark.sources.webcrawl import (encode_wet,
                                                   extract_wet_records)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source",
                                                 "text")

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        recs = [(f"https://crawl.test/{int(d)}", t)
                for d, t in zip(pdf["doc_id"], pdf["text"])]
        return pd.DataFrame({"archive": [encode_wet(recs)]})

    archives = docs.groupBy("source").applyInPandas(
        pack, "archive binary")
    out = extract_wet_records(archives, "archive")
    return out.select(
        F.regexp_extract(F.col("uri"), r"/(\d+)$", 1).cast("long")
        .alias("doc_id"),
        "text")

_DOC_WET_ROUNDTRIP_SQL = """
SELECT doc_id, text FROM documents
"""

def _doc_tar_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style shard ingestion (`sources.webcrawl.encode_tar`
    / `extract_tar_members`): docs are packed as per-source tar shards
    with two modalities per sample ({id}.txt = text, {id}.cls =
    n_chars), exploded back to row-per-member, and the sample's
    modalities regrouped by key with one groupBy (the WebDataset
    pattern). Oracle = the original documents table."""
    import pandas as pd
    from pipelinedp_spark.sources.webcrawl import (encode_tar,
                                                   extract_tar_members)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source",
                                                 "text", "n_chars")

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        members = []
        for d, t, nc in zip(pdf["doc_id"], pdf["text"], pdf["n_chars"]):
            members.append((f"s/{int(d)}.txt", str(t).encode("utf-8")))
            members.append((f"s/{int(d)}.cls", str(int(nc)).encode()))
        return pd.DataFrame({"shard": [encode_tar(members)]})

    shards = docs.groupBy("source").applyInPandas(pack, "shard binary")
    mem = extract_tar_members(shards, "shard")
    sample = mem.groupBy("key").agg(
        F.first(F.when(F.col("suffix") == "txt",
                       F.decode(F.col("payload"), "UTF-8")),
                ignorenulls=True).alias("text"),
        F.first(F.when(F.col("suffix") == "cls",
                       F.decode(F.col("payload"), "UTF-8")),
                ignorenulls=True).cast("long").alias("n_chars"))
    return sample.select(
        F.regexp_extract(F.col("key"), r"/(\d+)$", 1).cast("long")
        .alias("doc_id"),
        "text", "n_chars")

_DOC_TAR_SHARDS_SQL = """
SELECT doc_id, text, n_chars FROM documents
"""

def _multimodal_exif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF extraction (`multimodal.parse_exif` / `extract_exif`): each
    doc gets a real JPEG with a planted APP1 Exif segment (TIFF IFD0;
    little-endian for even ids, big-endian MM for odd — both byte
    orders walked), every 7th doc carries NO EXIF (nulls). Oracle =
    the plant."""
    import numpy as np
    import pandas as pd
    from pipelinedp_spark.operators import multimodal as MM
    from pipelinedp_spark.operators.jpeg import encode_jpeg

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(it):
        base = encode_jpeg(np.full((8, 8, 3), 120, dtype=np.uint8))
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            imgs = []
            for d in ids:
                d = int(d)
                if d % 7 == 0:
                    imgs.append(base)
                    continue
                app1 = MM.build_exif_app1(
                    {"make": f"Cam{d % 5}",
                     "orientation": 1 + d % 8,
                     "datetime": f"2026:01:{1 + d % 28:02d} 00:00:00"},
                    big_endian=bool(d % 2))
                imgs.append(base[:2] + app1 + base[2:])
            yield pd.DataFrame({"doc_id": ids, "image": imgs})

    imgs = docs.mapInPandas(gen, "doc_id long, image binary")
    out = MM.extract_exif(imgs, "image")
    return out.select("doc_id",
                      F.col("exif.make").alias("make"),
                      F.col("exif.orientation").alias("orientation"),
                      F.col("exif.datetime").alias("exif_datetime"))

_MULTIMODAL_EXIF_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 7 = 0 THEN NULL
            ELSE 'Cam' || CAST(doc_id % 5 AS VARCHAR) END AS make,
       CASE WHEN doc_id % 7 = 0 THEN NULL
            ELSE CAST(1 + doc_id % 8 AS INTEGER) END AS orientation,
       CASE WHEN doc_id % 7 = 0 THEN NULL
            ELSE '2026:01:' || lpad(CAST(1 + doc_id % 28 AS VARCHAR),
                                    2, '0') || ' 00:00:00'
       END AS exif_datetime
FROM documents
"""

def _multimodal_mp3_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP3 frame-header metadata (`multimodal.parse_mp3_metadata`):
    each doc renders a real MPEG-1 Layer III frame sequence (planted
    frame count 20 + d%17, bitrate index 1 + d%14, samplerate index
    d%3; every 11th doc gets an ID3v2 prefix the walker must skip) and
    the walk recovers rate/bitrate/frames/duration. Oracle = the plant
    (no 6dp rounding ties exist for these rationals — 44100 needs
    49 | n_frames, out of range)."""
    import pandas as pd
    from pipelinedp_spark.operators import multimodal as MM

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(it):
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            payloads = []
            for d in ids:
                d = int(d)
                b = MM.build_mp3_frames(20 + d % 17,
                                        bitrate_idx=1 + d % 14,
                                        rate_idx=d % 3)
                if d % 11 == 0:
                    b = (b"ID3\x04\x00\x00\x00\x00\x00\x0a"
                         + bytes(10) + b)
                payloads.append(b)
            yield pd.DataFrame({"doc_id": ids, "audio": payloads})

    clips = docs.mapInPandas(gen, "doc_id long, audio binary")
    out = MM.extract_mp3_metadata(clips, "audio")
    return out.select(
        "doc_id",
        F.col("mp3.sample_rate").alias("sample_rate"),
        F.col("mp3.bitrate_kbps").alias("bitrate_kbps"),
        F.col("mp3.n_frames").cast("long").alias("n_frames"),
        F.col("mp3.est_duration_s").alias("est_duration_s"))

_MULTIMODAL_MP3_META_SQL = """
WITH p AS (
  SELECT doc_id,
         20 + doc_id % 17 AS nf,
         1 + doc_id % 14 AS bi,
         doc_id % 3 AS ri
  FROM documents
)
SELECT doc_id,
       CAST(CASE ri WHEN 0 THEN 44100 WHEN 1 THEN 48000
                    ELSE 32000 END AS INTEGER) AS sample_rate,
       CAST(list_extract([32,40,48,56,64,80,96,112,128,160,192,224,256,320],
                         bi) AS INTEGER) AS bitrate_kbps,
       CAST(nf AS BIGINT) AS n_frames,
       ROUND(nf * 1152.0 / (CASE ri WHEN 0 THEN 44100 WHEN 1 THEN 48000
                                    ELSE 32000 END), 6) AS est_duration_s
FROM p
"""

def _doc_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain corpus cap — the full C4/RefinedWeb curation chain in
    one plan: planted messy URL -> `urls.registered_domain` -> at most
    3 docs kept per domain by md5 priority (`sampling.cap_per_key`,
    which compiles to partial+final WindowGroupLimit — a hot domain
    never concentrates on one task). Oracle replays the same domain
    formula and row_number rule."""
    from pipelinedp_spark.functions import urls as U
    from pipelinedp_spark.functions.sampling import cap_per_key
    from pipelinedp_spark.functions.text import hex_to_long

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    k = (F.col("doc_id") % 23).cast("string")
    m3 = F.col("doc_id") % 3
    host = (F.when(m3 == 0, F.concat(F.lit("www.site"), k,
                                     F.lit(".com")))
            .when(m3 == 1, F.concat(F.lit("site"), k, F.lit(".co.uk")))
            .otherwise(F.concat(F.lit("m.site"), k, F.lit(".com"))))
    pages = docs.withColumn(
        "url", F.concat(F.lit("https://"), host, F.lit("/p/"),
                        F.col("doc_id").cast("string")))
    tagged = pages.withColumn(
        "domain", U.registered_domain(U.url_host(F.col("url")))) \
        .withColumn("__pri__",
                    hex_to_long(F.md5(F.concat(F.lit("cap:"),
                                               F.col("doc_id")
                                               .cast("string")))))
    capped = cap_per_key(tagged, "domain", 3, "__pri__")
    return capped.select("doc_id", "domain")

_DOC_DOMAIN_CAP_SQL = """
WITH p AS (
  SELECT doc_id, doc_id % 23 AS k, doc_id % 3 AS m3 FROM documents
),
d AS (
  SELECT doc_id,
         CASE m3 WHEN 1 THEN 'site' || k || '.co.uk'
                 ELSE 'site' || k || '.com' END AS domain,
         ('0x' || substr(md5('cap:' || CAST(doc_id AS VARCHAR)),
                         1, 15))::BIGINT AS pri
  FROM p
),
r AS (
  SELECT doc_id, domain,
         ROW_NUMBER() OVER (PARTITION BY domain ORDER BY pri ASC) AS rn
  FROM d
)
SELECT doc_id, domain FROM r WHERE rn <= 3
"""

def _doc_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff (`dedup.corpus_diff`): v2 of the documents
    table drops every 7th doc (removed), rewrites every 5th surviving
    text (changed), and appends 50 synthetic ids (added); the diff
    labels all of it off ONE full-outer join on the 60-bit fingerprints
    — text never shuffles. Oracle = the planted status formula."""
    from pipelinedp_spark.operators.dedup import corpus_diff
    old = _t(spark, sf_dir, "documents").select("doc_id", "text")
    surviving = old.filter(F.col("doc_id") % 7 != 0)
    changed = surviving.select(
        "doc_id",
        F.when((F.col("doc_id") % 5 == 0),
               F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text")).alias("text"))
    mx = 1_000_000_000
    added = spark.range(mx, mx + 50).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("new doc "), F.col("id").cast("string"))
        .alias("text"))
    new = changed.unionByName(added)
    return corpus_diff(old, new)

_DOC_CORPUS_DIFF_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 7 = 0 THEN 'removed'
            WHEN doc_id % 5 = 0 THEN 'changed'
            ELSE 'unchanged' END AS status
FROM documents
UNION ALL
SELECT 1000000000 + r.range AS doc_id, 'added' AS status
FROM range(0, 50) r
"""

def _doc_contamination_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc contamination audit (`decontam.contamination_report`,
    3-grams, eval = doc_id % 97 == 0): EVERY training doc reported with
    its gram total, eval-overlap count, and fraction — the release-
    review view where doc_decontaminate is the filter. Gram totals are
    a codegen size(); hits reuse the broadcast semi-join."""
    from pipelinedp_spark.operators.decontam import contamination_report
    docs = _t(spark, sf_dir, "documents")
    evald = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return contamination_report(train, evald, n=3)

_DOC_CONTAMINATION_SCORE_SQL = """
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
gr AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN [array_to_string(t[i:i+2], ' ')
                    for i in range(1, len(t) - 1)]
              ELSE [array_to_string(t, ' ')] END AS grams
  FROM tok),
ev AS (
  SELECT DISTINCT ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
  FROM gr, UNNEST(grams) AS u(g)
  WHERE doc_id % 97 = 0),
corpus AS (
  SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
  FROM gr, UNNEST(grams) AS u(g)
  WHERE doc_id % 97 <> 0),
hits AS (
  SELECT corpus.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM corpus JOIN ev USING (h)
  GROUP BY 1),
totals AS (
  SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams
  FROM gr WHERE doc_id % 97 <> 0)
SELECT t.doc_id, t.n_grams,
       COALESCE(h.n_hits, 0) AS n_hits,
       CASE WHEN t.n_grams > 0
            THEN ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE)
                       / t.n_grams, 6)
            ELSE 0.0 END AS contamination_frac
FROM totals t LEFT JOIN hits h USING (doc_id)
"""

def _doc_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codegen text normalization (`text.normalize_text`): each doc is
    made deterministically messy (tab/space padding, a BEL control
    byte, CRLF line breaks injected at ' the ') and normalized back;
    the expected output is a closed-form transform of the original
    text. Pure regexp expressions — zero Python per row."""
    from pipelinedp_spark.functions.text import normalize_text
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    messy = F.concat(F.lit("\t  "),
                     F.replace(F.col("text"), F.lit(" the "),
                               F.lit(" \r\n the ")),
                     F.lit("\x07"), F.lit("  "))
    return docs.select(
        "doc_id", normalize_text(messy).alias("clean_text"))

_DOC_NORMALIZE_TEXT_SQL = """
SELECT doc_id,
       replace(text, ' the ', chr(10) || 'the ') AS clean_text
FROM documents
"""


QUERIES = {
    "multimodal_phash_incremental": _multimodal_phash_incremental,
    "multimodal_phash_takedown": _multimodal_phash_takedown,
    "doc_vocab_hll": _doc_vocab_hll,
    "token_freq_cms": _token_freq_cms,
    "doc_decontaminate_bloom": _doc_decontaminate_bloom,
    "events_windowed_hll": _events_windowed_hll,
    "vocab_overlap_kmv": _vocab_overlap_kmv,
    "doc_temperature_mix": _doc_temperature_mix,
    "multimodal_phash_dedup": _multimodal_phash_dedup,
    "multimodal_audio_dedup": _multimodal_audio_dedup,
    "doc_line_dedup": _doc_line_dedup,
    "multimodal_video_frames": _multimodal_video_frames,
    "doc_url_canonicalize": _doc_url_canonicalize,
    "multimodal_video_dedup": _multimodal_video_dedup,
    "multimodal_resize_stats": _multimodal_resize_stats,
    "dedup_keep_best": _dedup_keep_best,
    "doc_paragraph_filter": _doc_paragraph_filter,
    "stream_line_dedup_mirror": _stream_line_dedup_mirror,
    "doc_token_budget": _doc_token_budget,
    "doc_wet_roundtrip": _doc_wet_roundtrip,
    "doc_tar_shards": _doc_tar_shards,
    "multimodal_exif": _multimodal_exif,
    "multimodal_mp3_meta": _multimodal_mp3_meta,
    "doc_domain_cap": _doc_domain_cap,
    "doc_corpus_diff": _doc_corpus_diff,
    "doc_contamination_score": _doc_contamination_score,
    "doc_normalize_text": _doc_normalize_text,
}

ORACLES = {
    "multimodal_phash_incremental": _MULTIMODAL_PHASH_INCR_SQL,
    "multimodal_phash_takedown": _MULTIMODAL_PHASH_TAKEDOWN_SQL,
    "doc_vocab_hll": _DOC_VOCAB_HLL_SQL,
    "token_freq_cms": _TOKEN_FREQ_CMS_SQL,
    "doc_decontaminate_bloom": _DOC_DECONTAM_BLOOM_SQL,
    "events_windowed_hll": _EVENTS_WINDOWED_HLL_SQL,
    "vocab_overlap_kmv": _VOCAB_OVERLAP_KMV_SQL,
    "doc_temperature_mix": _DOC_TEMPERATURE_MIX_SQL,
    "multimodal_phash_dedup": _MULTIMODAL_PHASH_SQL,
    "multimodal_audio_dedup": _MULTIMODAL_AUDIO_DEDUP_SQL,
    "doc_line_dedup": _DOC_LINE_DEDUP_SQL,
    "multimodal_video_frames": _MULTIMODAL_VIDEO_FRAMES_SQL,
    "doc_url_canonicalize": _DOC_URL_CANONICALIZE_SQL,
    "multimodal_video_dedup": _MULTIMODAL_VIDEO_DEDUP_SQL,
    "multimodal_resize_stats": _MULTIMODAL_RESIZE_STATS_SQL,
    "dedup_keep_best": _gen_dedup_keep_best_sql(),
    "doc_paragraph_filter": _gen_paragraph_filter_sql(),
    "stream_line_dedup_mirror": _STREAM_LINE_DEDUP_MIRROR_SQL,
    "doc_token_budget": _DOC_TOKEN_BUDGET_SQL,
    "doc_wet_roundtrip": _DOC_WET_ROUNDTRIP_SQL,
    "doc_tar_shards": _DOC_TAR_SHARDS_SQL,
    "multimodal_exif": _MULTIMODAL_EXIF_SQL,
    "multimodal_mp3_meta": _MULTIMODAL_MP3_META_SQL,
    "doc_domain_cap": _DOC_DOMAIN_CAP_SQL,
    "doc_corpus_diff": _DOC_CORPUS_DIFF_SQL,
    "doc_contamination_score": _DOC_CONTAMINATION_SCORE_SQL,
    "doc_normalize_text": _DOC_NORMALIZE_TEXT_SQL,
}
