"""Analysis layer: utility analysis + dataset histograms oracles.

Part of the driver-contract oracle registry (split out of
__spark_entry__.py in round 11; every query name, plan, and oracle hash
unchanged). QUERIES maps query name -> (spark, sf_dir) -> DataFrame;
ORACLES maps the same names to DuckDB-ANSI SQL strings the driver runs
side-by-side at sf0.01.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import pipelinedp_spark as pds
from pipelinedp_spark.queries.common import _t
from pipelinedp_spark.queries.dp_core import _laplace_threshold_for


def _utility_analysis_count_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UtilityAnalysisEngine over a 2-config grid on lineitem: expected
    COUNT and SUM error (rmse, |bias|, dropped ratio) per configuration
    under the Bernoulli-keep model, public partitions."""
    import pipelinedp_spark.analysis as A
    li = _t(spark, sf_dir, "lineitem")
    params = pds.AggregateParams(
        metrics=[pds.Metrics.COUNT, pds.Metrics.SUM],
        max_partitions_contributed=1, max_contributions_per_partition=1,
        min_value=0.0, max_value=50.0)
    conf = A.MultiParameterConfiguration(
        max_partitions_contributed=[2, 3],
        max_contributions_per_partition=[100, 400],
        min_sum_per_partition=[0.0, 0.0],
        max_sum_per_partition=[2000.0, 10000.0])
    reports = A.UtilityAnalysisEngine(epsilon=4.0, delta=0.0).analyze(
        li, params,
        pds.DataFrameExtractors("l_suppkey", "l_returnflag", "l_quantity"),
        conf, public_partitions=["A", "N", "R"])
    rows = []
    for rep in reports:
        for me in rep.metric_errors:
            rows.append((rep.configuration_index, me.metric.value,
                         round(me.rmse, 6), round(me.expected_abs_bias, 6),
                         round(me.ratio_data_dropped, 6)))
    rows.sort()
    return spark.createDataFrame(
        rows, "conf int, metric string, rmse double, abs_bias double, "
              "dropped double")

_UTILITY_ANALYSIS_COUNT_SUM_SQL = """
WITH pre AS (
  SELECT l_suppkey AS pid, l_returnflag AS pk,
         COUNT(*)::DOUBLE AS cnt, SUM(l_quantity)::DOUBLE AS s
  FROM lineitem GROUP BY 1, 2),
pre2 AS (SELECT *, COUNT(*) OVER (PARTITION BY pid)::DOUBLE AS np FROM pre),
conf(conf, l0, linf, lo, hi) AS (
  VALUES (0, 2.0, 100.0, 0.0, 2000.0), (1, 3.0, 400.0, 0.0, 10000.0)),
j AS (
  SELECT conf, l0, linf, lo, hi, pk, cnt, s,
         LEAST(1.0, l0 / np) AS p,
         LEAST(cnt, linf) AS cc,
         GREATEST(LEAST(s, hi), lo) AS cs
  FROM pre2 CROSS JOIN conf),
per_pk AS (
  SELECT conf, l0, linf, lo, hi, pk,
         SUM(cnt) AS true_cnt, SUM(s) AS true_sum,
         SUM(p * cc - cnt) AS cb, SUM(p * (1 - p) * cc * cc) AS cv,
         SUM(p * cs - s) AS sb, SUM(p * (1 - p) * cs * cs) AS sv
  FROM j GROUP BY 1, 2, 3, 4, 5, 6),
stds AS (
  SELECT *, sqrt(2.0) * l0 * linf / 2.0 AS cstd,
            sqrt(2.0) * l0 * GREATEST(abs(lo), abs(hi)) / 2.0 AS sstd
  FROM per_pk),
agg AS (
  SELECT conf,
         sqrt(avg(cb * cb + cv + cstd * cstd)) AS count_rmse,
         avg(abs(cb)) AS count_bias,
         sum(-cb) / sum(true_cnt) AS count_dropped,
         sqrt(avg(sb * sb + sv + sstd * sstd)) AS sum_rmse,
         avg(abs(sb)) AS sum_bias,
         sum(-sb) / sum(abs(true_sum)) AS sum_dropped
  FROM stds GROUP BY 1)
SELECT conf, 'count' AS metric, ROUND(count_rmse, 6) AS rmse,
       ROUND(count_bias, 6) AS abs_bias, ROUND(count_dropped, 6) AS dropped
FROM agg
UNION ALL
SELECT conf, 'sum', ROUND(sum_rmse, 6), ROUND(sum_bias, 6),
       ROUND(sum_dropped, 6)
FROM agg
ORDER BY conf, metric
"""

def _utility_analysis_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANCE utility analysis on events (net-new metric): delta-method
    rmse and |bias| per configuration, full (C, S, Q) sampling covariance,
    public partitions."""
    import pipelinedp_spark.analysis as A
    ev = _t(spark, sf_dir, "events")
    params = pds.AggregateParams(
        metrics=[pds.Metrics.VARIANCE],
        max_partitions_contributed=1, max_contributions_per_partition=1,
        min_value=0.0, max_value=500.0)
    conf = A.MultiParameterConfiguration(
        max_partitions_contributed=[2, 4],
        max_contributions_per_partition=[3, 10])
    reports = A.UtilityAnalysisEngine(epsilon=6.0, delta=0.0).analyze(
        ev, params,
        pds.DataFrameExtractors("user_id", "event_type", "value"),
        conf, public_partitions=["click", "signup", "error",
                                 "view", "purchase"])
    rows = [(rep.configuration_index,
             round(rep.metric_errors[0].rmse, 6),
             round(rep.metric_errors[0].expected_abs_bias, 6))
            for rep in reports]
    rows.sort()
    return spark.createDataFrame(rows,
                                 "conf int, rmse double, abs_bias double")

_UTILITY_ANALYSIS_VARIANCE_SQL = """
WITH pre AS (
  SELECT user_id AS pid, event_type AS pk,
         COUNT(*)::DOUBLE AS cnt, SUM(value)::DOUBLE AS s,
         SUM(value * value)::DOUBLE AS q
  FROM events GROUP BY 1, 2),
pre2 AS (SELECT *, COUNT(*) OVER (PARTITION BY pid)::DOUBLE AS np FROM pre),
conf(conf, l0, linf) AS (VALUES (0, 2.0, 3.0), (1, 4.0, 10.0)),
j AS (
  SELECT conf, l0, linf, pk, cnt,
         LEAST(1.0, l0 / np) AS p,
         LEAST(cnt, linf) AS cc,
         (s - cnt * 250.0) AS ns,
         (q - 2 * 250.0 * s + cnt * 250.0 * 250.0) AS nq,
         LEAST(cnt, linf) / cnt AS r
  FROM pre2 CROSS JOIN conf),
per_pk AS (
  SELECT conf, l0, linf, pk,
         SUM(cnt) AS c, SUM(ns) AS sn, SUM(nq) AS qn,
         SUM(p * cc - cnt) AS bc,
         SUM(p * ns * r - ns) AS bs,
         SUM(p * nq * r - nq) AS bq,
         SUM(p * (1 - p) * cc * cc) AS vc,
         SUM(p * (1 - p) * ns * r * ns * r) AS vs,
         SUM(p * (1 - p) * nq * r * nq * r) AS vq,
         SUM(p * (1 - p) * cc * ns * r) AS ccs,
         SUM(p * (1 - p) * cc * nq * r) AS ccq,
         SUM(p * (1 - p) * ns * r * nq * r) AS csq
  FROM j GROUP BY 1, 2, 3, 4),
g AS (
  SELECT *,
         (-qn / (c * c) + 2 * sn * sn / (c * c * c)) AS fc,
         (-2 * sn / (c * c)) AS fs,
         (1.0 / c) AS fq,
         sqrt(2.0) * l0 * linf / 2.0 AS stdc,
         sqrt(2.0) * l0 * linf * 250.0 / 2.0 AS stds,
         sqrt(2.0) * l0 * linf * 250.0 * 250.0 / 2.0 AS stdq
  FROM per_pk),
e AS (
  SELECT conf,
         (fc * bc + fs * bs + fq * bq) AS bias,
         fc * fc * (vc + stdc * stdc) + fs * fs * (vs + stds * stds)
           + fq * fq * (vq + stdq * stdq)
           + 2 * fc * fs * ccs + 2 * fc * fq * ccq + 2 * fs * fq * csq
           AS var
  FROM g)
SELECT conf, ROUND(sqrt(avg(bias * bias + var)), 6) AS rmse,
       ROUND(avg(abs(bias)), 6) AS abs_bias
FROM e GROUP BY conf ORDER BY conf
"""

def _analysis_histograms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset contribution histograms (reference log binning: keep the 3
    most-significant digits) for L0 / Linf / count-per-partition over
    lineitem keyed by (l_suppkey, l_returnflag)."""
    import pipelinedp_spark.analysis as A
    li = _t(spark, sf_dir, "lineitem")
    h = A.compute_dataset_histograms(
        li, pds.DataFrameExtractors("l_suppkey", "l_returnflag",
                                    "l_quantity"))
    rows = []
    for hist in (h.l0_contributions_histogram,
                 h.linf_contributions_histogram,
                 h.count_per_partition_histogram):
        for b in hist.bins:
            rows.append((hist.name.value, int(b.lower), int(b.upper),
                         int(b.count), float(b.sum), float(b.max),
                         float(b.min)))
    return spark.createDataFrame(
        rows, "hist string, lower long, upper long, bin_count long, "
              "bin_sum double, bin_max double, bin_min double")

_ANALYSIS_HISTOGRAMS_SQL = """
WITH per AS (
  SELECT l_suppkey AS pid, l_returnflag AS pk, COUNT(*) AS cnt
  FROM lineitem GROUP BY 1, 2),
u AS (
  SELECT 'l0_contributions' AS h, COUNT(*)::BIGINT AS v
  FROM per GROUP BY pid
  UNION ALL
  SELECT 'linf_contributions', cnt FROM per
  UNION ALL
  SELECT 'count_per_partition', SUM(cnt)::BIGINT FROM per GROUP BY pk),
b AS (
  SELECT h, v,
         CAST(FLOOR(v / POWER(10, GREATEST(FLOOR(LOG10(v)) - 2, 0)))
              * POWER(10, GREATEST(FLOOR(LOG10(v)) - 2, 0)) AS BIGINT)
             AS lower
  FROM u)
SELECT h AS hist, lower,
       lower + CAST(POWER(10, GREATEST(LENGTH(CAST(lower AS VARCHAR)) - 3,
                                       0)) AS BIGINT) AS upper,
       COUNT(*)::BIGINT AS bin_count, SUM(v)::DOUBLE AS bin_sum,
       MAX(v)::DOUBLE AS bin_max, MIN(v)::DOUBLE AS bin_min
FROM b GROUP BY 1, 2 ORDER BY 1, 2
"""

def _doc_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-overlap pairs via MOSS-style winnowing fingerprints
    (k=5-gram hashes, window w=4): catches copied passages that
    whole-document similarity misses. The hash (md5-derived 60-bit
    bigint) and both rolling windows mirror exactly into SQL."""
    from pipelinedp_spark.operators import dedup
    docs = _t(spark, sf_dir, "documents")
    return dedup.winnow_containment_pairs(docs, min_containment=0.5)

_DOC_CONTAINMENT_SQL = """
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
gr AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 5
              THEN [array_to_string(t[i:i+4], ' ')
                    for i in range(1, len(t) - 3)]
              ELSE [array_to_string(t, ' ')] END AS grams
  FROM tok),
hs AS (
  SELECT doc_id,
         [('0x' || substr(md5(g), 1, 15))::BIGINT for g in grams] AS h
  FROM gr),
fp AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(h) >= 4
              THEN [list_min(h[j:j+3]) for j in range(1, len(h) - 2)]
              ELSE [list_min(h)] END) AS fps
  FROM hs),
inv AS (SELECT doc_id, UNNEST(fps) AS f FROM fp),
kept AS (
  SELECT doc_id, f FROM inv
  QUALIFY COUNT(*) OVER (PARTITION BY f) <= 200),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY 1),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*)::BIGINT AS shared
  FROM kept a JOIN kept b ON a.f = b.f AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT s.id_a, s.id_b, s.shared,
       ROUND(s.shared::DOUBLE / LEAST(na.n, nb.n), 6) AS containment
FROM shared s
JOIN sizes na ON na.doc_id = s.id_a
JOIN sizes nb ON nb.doc_id = s.id_b
WHERE ROUND(s.shared::DOUBLE / LEAST(na.n, nb.n), 6) >= 0.5
ORDER BY 1, 2
"""

def _multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL end-to-end PNG path: a deterministic RGB pixel pattern per doc
    -> real PNG encoding (zlib-deflated scanlines, CRC chunks) -> opaque
    binary column -> real decode (operators.multimodal.decode_png: inflate
    + scanline unfilter) -> exact integer luma stats. The oracle recomputes
    the stats from the generating formula, so a chunk/deflate/unfilter bug
    in either codec breaks the match."""
    import numpy as np
    import pandas as pd
    from pipelinedp_spark.operators import multimodal as MM

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(it):
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            payloads = []
            for d in ids:
                h, w = 3 + d % 4, 4 + d % 5
                i, j = np.meshgrid(np.arange(h), np.arange(w),
                                   indexing="ij")
                base = d + 3 * i + 5 * j
                rgb = np.stack([(base + 11 * c) % 256 for c in range(3)],
                               axis=-1).astype(np.uint8)
                payloads.append(MM.encode_png(rgb))
            yield pd.DataFrame({"doc_id": ids, "image": payloads})

    imgs = docs.mapInPandas(gen, "doc_id long, image binary")
    return MM.image_pixel_stats(imgs, "image").select(
        "doc_id", "px_width", "px_height", "px_sum", "px_min", "px_max")

_MULTIMODAL_PNG_SQL = """
WITH px AS (
  SELECT d.doc_id,
         (299 * ((d.doc_id + 3 * gi.i + 5 * gj.j) % 256)
          + 587 * ((d.doc_id + 3 * gi.i + 5 * gj.j + 11) % 256)
          + 114 * ((d.doc_id + 3 * gi.i + 5 * gj.j + 22) % 256)) // 1000
             AS luma
  FROM documents d,
       generate_series(0, 6) gi(i),
       generate_series(0, 8) gj(j)
  WHERE gi.i < 3 + d.doc_id % 4 AND gj.j < 4 + d.doc_id % 5)
SELECT doc_id,
       CAST(4 + doc_id % 5 AS INT) AS px_width,
       CAST(3 + doc_id % 4 AS INT) AS px_height,
       CAST(SUM(luma) AS BIGINT) AS px_sum,
       CAST(MIN(luma) AS INT) AS px_min,
       CAST(MAX(luma) AS INT) AS px_max
FROM px GROUP BY doc_id
"""

def _dp_count_join_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DP star-schema query: count + privacy-id count + clipped quantity
    sum of lineitems per CUSTOMER NATION, privacy unit = customer. The
    fact table reaches the DP engine through a 3-hop join
    (lineitem -> orders -> customer -> broadcast(nation)); Catalyst
    broadcasts the dims and pushes the column pruning into all four
    scans, showing the DP pipeline composes with ordinary star-schema
    analytics. Per-contribution clip of quantity to [0, 25] binding,
    Linf/L0 non-binding, zero noise."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    joined = (li.join(o, li.l_orderkey == o.o_orderkey)
              .join(c, o.o_custkey == c.c_custkey)
              .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
              .select("o_custkey", "n_name", "l_quantity"))
    pub = sorted(r["n_name"] for r in n.select("n_name").collect())
    query = (pds.QueryBuilder(joined, "o_custkey")
             .groupby("n_name", max_groups_contributed=25,
                      max_contributions_per_group=1_000_000,
                      public_keys=pub)
             .count()
             .privacy_id_count()
             .sum("l_quantity", min_value=0.0, max_value=25.0,
                  name="sum_qty")
             .build_query())
    return query.run_query(pds.Budget(3.0, 1e-6), noise_mode="zero")

_DP_COUNT_JOIN_NATION_SQL = """
WITH j AS (
  SELECT o.o_custkey AS cust, n.n_name, l.l_quantity
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey),
per_user AS (
  SELECT cust, n_name, COUNT(*) AS cnt, COUNT(*) AS pid_one,
         SUM(LEAST(GREATEST(l_quantity, 0.0), 25.0)) AS s
  FROM j GROUP BY cust, n_name),
agg AS (
  SELECT n_name,
         CAST(SUM(cnt) AS DOUBLE) AS count,
         CAST(COUNT(*) AS DOUBLE) AS privacy_id_count,
         CAST(SUM(s) AS DOUBLE) AS sum_qty
  FROM per_user GROUP BY n_name)
SELECT n.n_name,
       COALESCE(agg.count, 0.0) AS count,
       COALESCE(agg.privacy_id_count, 0.0) AS privacy_id_count,
       COALESCE(agg.sum_qty, 0.0) AS sum_qty
FROM (SELECT DISTINCT n_name FROM nation) n
LEFT JOIN agg USING (n_name)
ORDER BY n.n_name
"""

def _dp_windowed_variance_events(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """DP variance of event values per (event_type, tumbling 1-day
    event-time window) — the batch mirror of
    streaming.dp_streaming_variance (same window semantics, same
    three-mechanism construction). Per-contribution clip to [0, 500]
    (non-binding: values stay inside), Linf/L0 non-binding, public
    window grid, zero noise."""
    ev = _t(spark, sf_dir, "events")
    day_us = 86_400_000_000
    ev = ev.withColumn(
        "day", F.floor(F.col("ts") / F.lit(day_us)).cast("long"))
    pub = [(r["event_type"], r["day"]) for r in
           ev.select("event_type", "day").distinct().collect()]
    query = (pds.QueryBuilder(ev, "user_id")
             .groupby(["event_type", "day"], max_groups_contributed=100,
                      max_contributions_per_group=1_000_000,
                      public_keys=pub)
             .variance("value", min_value=0.0, max_value=500.0,
                       name="var_value")
             .build_query())
    out = query.run_query(pds.Budget(3.0, 1e-6), noise_mode="zero")
    return out.select("event_type", "day",
                      F.round("var_value", 6).alias("var_value"))

_DP_WINDOWED_VARIANCE_SQL = """
WITH ev AS (
    SELECT user_id, event_type, value,
           CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day
    FROM events)
SELECT event_type, day,
       ROUND(SUM(value * value) / COUNT(*)
             - (SUM(value) / COUNT(*)) ^ 2, 6) AS var_value
FROM ev GROUP BY 1, 2
ORDER BY 1, 2
"""

def _doc_quality_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/boilerplate signals per document: the
    duplicate 5-gram character fraction (shuffle-free all-minus-distinct
    identity), the top 2-gram character fraction (word-count shape +
    per-doc argmax), and the symbol-to-word ratio."""
    from pipelinedp_spark.functions import text as TX
    from pipelinedp_spark.operators.quality import top_ngram_char_fraction
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        TX.duplicate_ngram_char_fraction(F.col("text"), 5)
        .alias("dup_5gram_frac"),
        TX.symbol_word_ratio(F.col("text")).alias("symbol_word_ratio"))
    top = top_ngram_char_fraction(docs, ns=(2,))
    return base.join(top, "doc_id")

_DOC_QUALITY_SIGNALS_SQL = """
WITH tok AS (SELECT doc_id, text, string_split(text, ' ') AS t
             FROM documents),
g5 AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 5
              THEN [array_to_string(t[i:i+4], ' ')
                    for i in range(1, len(t) - 3)]
              ELSE [array_to_string(t, ' ')] END AS g
  FROM tok),
dup5 AS (
  SELECT doc_id,
         CASE WHEN list_aggregate([length(x) for x in g], 'sum') > 0
              THEN ROUND(
                (list_aggregate([length(x) for x in g], 'sum')
                 - list_aggregate([length(x) for x in list_distinct(g)],
                                  'sum'))::DOUBLE
                / list_aggregate([length(x) for x in g], 'sum'), 6)
              ELSE 0.0 END AS dup_5gram_frac
  FROM g5),
g2 AS (
  SELECT doc_id,
         UNNEST(CASE WHEN len(t) >= 2
                     THEN [t[i] || ' ' || t[i+1]
                           for i in range(1, len(t))]
                     ELSE [array_to_string(t, ' ')] END) AS g
  FROM tok),
cnt2 AS (
  SELECT doc_id, g, COUNT(*) AS cnt FROM g2 GROUP BY 1, 2),
tot2 AS (
  SELECT doc_id, SUM(cnt * length(g)) AS total FROM cnt2 GROUP BY 1),
top2 AS (
  SELECT doc_id, g, cnt FROM cnt2
  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
                             ORDER BY cnt DESC, g ASC) = 1),
sym AS (
  SELECT doc_id,
         CASE WHEN len(t) > 0
              THEN ROUND(
                (length(text) - length(replace(text, '#', ''))
                 + len(regexp_extract_all(text, '\\.\\.\\.')))::DOUBLE
                / len(t), 6)
              ELSE 0.0 END AS symbol_word_ratio
  FROM tok)
SELECT d.doc_id, dup5.dup_5gram_frac, sym.symbol_word_ratio,
       ROUND((top2.cnt * length(top2.g))::DOUBLE / tot2.total, 6)
           AS top_2gram_frac
FROM documents d
JOIN dup5 USING (doc_id)
JOIN sym USING (doc_id)
JOIN top2 USING (doc_id)
JOIN tot2 USING (doc_id)
ORDER BY d.doc_id
"""

def _doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII hygiene end-to-end: deterministic synthetic PII (e-mail, IPv4,
    SSN derived from doc_id) is appended to each document, then counted
    and scrubbed with the engine's shared Java/RE2-compatible patterns
    (functions.text.PII_PATTERNS); the oracle re-runs the identical
    regexes in DuckDB and compares match counts + an md5 of the scrubbed
    text."""
    from pipelinedp_spark.functions import text as TX
    docs = _t(spark, sf_dir, "documents")
    injected = F.concat(
        F.col("text"), F.lit(" contact user"),
        F.col("doc_id").cast("string"), F.lit("@ex"),
        (F.col("doc_id") % 7).cast("string"), F.lit(".org from 10.0.0."),
        (F.col("doc_id") % 200).cast("string"), F.lit(" ssn 123-45-6789"))
    return docs.select(
        "doc_id",
        TX.pii_count(injected, "email").cast("long").alias("n_email"),
        TX.pii_count(injected, "ip").cast("long").alias("n_ip"),
        TX.pii_count(injected, "ssn").cast("long").alias("n_ssn"),
        F.md5(TX.scrub_pii(injected)).alias("scrub_md5"))

def _doc_pii_scrub_sql() -> str:
    from pipelinedp_spark.functions.text import PII_PATTERNS, _PII_ORDER
    scrub = "t"
    for kind in _PII_ORDER:
        pattern, repl = PII_PATTERNS[kind]
        scrub = f"regexp_replace({scrub}, '{pattern}', '{repl}', 'g')"
    email, ip, ssn = (PII_PATTERNS[k][0] for k in ("email", "ip", "ssn"))
    return f"""
WITH inj AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@ex' || (doc_id % 7)
              || '.org from 10.0.0.' || (doc_id % 200)
              || ' ssn 123-45-6789' AS t
  FROM documents)
SELECT doc_id,
       len(regexp_extract_all(t, '{email}'))::BIGINT AS n_email,
       len(regexp_extract_all(t, '{ip}'))::BIGINT AS n_ip,
       len(regexp_extract_all(t, '{ssn}'))::BIGINT AS n_ssn,
       md5({scrub}) AS scrub_md5
FROM inj ORDER BY doc_id
"""

def _bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge training on the documents corpus (iterative
    pair-count/argmax/rewrite over the word-frequency table — corpus
    touched once, per-iteration cost is vocabulary-sized). Deterministic
    tie-break, so output is stable; the oracle bakes the merge table
    produced by the INDEPENDENT pure-Python trainer
    (`_gen_bpe_train_sql`), and tests/test_bpe.py additionally pins the
    algorithm against a from-first-principles reference."""
    from pipelinedp_spark.operators.bpe import train_bpe_merges
    docs = _t(spark, sf_dir, "documents")
    merges = train_bpe_merges(docs, num_merges=20)
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank int, left string, right string")

def _bpe_word_counts_from_parquet(sf_dir: str) -> "dict[str, int]":
    """Shared trainer input for the bpe_encode query and its oracle:
    the corpus word-frequency table via DuckDB (engine-portable — Spark
    tokenization is the same split-on-space). Handles both single-file
    tables and Spark-written directory tables (the generated sf1 set)."""
    import os

    import duckdb
    path = f"{sf_dir}/documents.parquet"
    if os.path.isdir(path):
        path = f"{path}/*.parquet"
    rows = duckdb.sql(f"""
SELECT w, COUNT(*) AS c FROM (
  SELECT unnest(string_split(text, ' ')) AS w
  FROM read_parquet('{path}'))
WHERE w <> '' GROUP BY w""").fetchall()
    return {w: c for w, c in rows}

def _bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING with a fixed merge table — the SQL-checkable half of
    the BPE pair (training is iterative, rows-only: `bpe_train_merges`).
    Merges train driver-side on the corpus word-frequency table
    (`train_bpe_merges_local`, same algorithm + tie-break as the
    distributed trainer, which tests pin against a reference impl); the
    encode itself is the Arrow-batched `apply_bpe` mapInPandas over the
    corpus. The oracle bakes per-word expected encodings computed by an
    INDEPENDENT sequential-merge encoder, so the min-rank greedy encoder
    is cross-checked end-to-end."""
    from pipelinedp_spark.operators.bpe import (apply_bpe,
                                                train_bpe_merges_local)
    merges = train_bpe_merges_local(
        _bpe_word_counts_from_parquet(sf_dir), num_merges=20)
    docs = _t(spark, sf_dir, "documents")
    enc = apply_bpe(docs.select("doc_id", "text"), merges)
    return enc.select(
        "doc_id",
        F.size("bpe_tokens").cast("long").alias("n_subwords"),
        F.md5(F.concat_ws(" ", F.col("bpe_tokens"))).alias("enc_md5"))

def _gen_bpe_encode_sql(sf_dir: str = "/root/testdata/sf0.01",
                        num_merges: int = 20) -> str:
    """Oracle for `bpe_encode`: trains the same merges from the same
    word-count table, but encodes every vocabulary word with the
    sequential-order encoder (`encode_word_sequential` — an independent
    formulation of BPE application), bakes (word -> encoding, n_subwords)
    as a VALUES table, and reassembles per-document encodings in SQL
    with an ordinality join."""
    from pipelinedp_spark.operators.bpe import (encode_word_sequential,
                                                train_bpe_merges_local)
    wc = _bpe_word_counts_from_parquet(sf_dir)
    merges = train_bpe_merges_local(wc, num_merges=num_merges)
    def q(s: str) -> str:
        return s.replace("'", "''")
    vals = ", ".join(
        f"('{q(w)}', '{q(' '.join(encode_word_sequential(w, merges)))}', "
        f"{len(encode_word_sequential(w, merges))})"
        for w in sorted(wc))
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
w AS (SELECT doc_id,
             unnest([{{'i': i, 'word': tk[i]}}
                     for i in range(1, len(tk) + 1)]) AS u
      FROM t),
pos AS (SELECT doc_id, u.i AS i, u.word AS word FROM w
        WHERE u.word <> ''),
e(word, enc, n) AS (VALUES {vals}),
j AS (SELECT pos.doc_id, pos.i, e.enc, e.n
      FROM pos JOIN e USING (word))
SELECT d.doc_id,
       COALESCE(SUM(j.n), 0)::BIGINT AS n_subwords,
       md5(COALESCE(string_agg(j.enc, ' ' ORDER BY j.i), '')) AS enc_md5
FROM documents d LEFT JOIN j ON d.doc_id = j.doc_id
GROUP BY d.doc_id
"""

def _gen_bpe_train_sql(sf_dir: str = "/root/testdata/sf0.01",
                       num_merges: int = 20) -> str:
    """Oracle for `bpe_train_merges`: the INDEPENDENT pure-Python
    sequential trainer (`train_bpe_merges_local`, Counter-based — a
    different formulation from the distributed pair-count/argmax/
    fold-rewrite loop) runs on DuckDB-derived word counts and its merge
    table is baked as a VALUES literal, upgrading the query from the
    registry's one rows-only check to full schema+hash parity."""
    from pipelinedp_spark.operators.bpe import train_bpe_merges_local
    merges = train_bpe_merges_local(
        _bpe_word_counts_from_parquet(sf_dir), num_merges=num_merges)

    def q(s: str) -> str:
        return s.replace("'", "''")
    vals = ", ".join(f"({i}, '{q(a)}', '{q(b)}')"
                     for i, (a, b) in enumerate(merges))
    return (f'SELECT CAST(rank AS INTEGER) AS rank, "left", "right" '
            f'FROM (VALUES {vals}) AS t(rank, "left", "right")')

def _sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (asymmetric distance over m=4 x 16
    codebooks). Deterministic: codebooks train on the lowest-10k-id
    sample with a fixed seed, so the oracle generator re-trains
    bit-identical codebooks with numpy, injects them as literals, and
    mirrors code assignment (argmin, idx tie-break) and the per-subspace
    dot-product-identity distances in SQL."""
    from pipelinedp_spark.operators import similarity
    emb = _t(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    out = similarity.pq_topk(emb, q, k=10, m=4, ksub=16)
    return out.withColumn("rank", F.col("rank").cast("long"))

def _gen_pq_topk_sql(m: int = 4, ksub: int = 16, k: int = 10,
                     seed: int = 7,
                     sf_dir: str = "/root/testdata/sf0.01") -> str:
    """SQL mirror of `similarity.pq_topk` for the sf0.01 oracle run:
    re-trains the same PQ codebooks from the same deterministic parquet
    sample, injects them as literals, assigns codes by per-subspace
    argmin of |v - c|^2 = v.v - 2 v.c + c.c (idx ASC tie-break), and
    sums the query's per-subspace table entries for the coded ADC
    distance."""
    import numpy as np
    import duckdb
    from pipelinedp_spark.operators.similarity import train_pq_codebooks

    sample = duckdb.sql(
        f"SELECT embedding FROM read_parquet('{sf_dir}/embeddings.parquet') "
        f"ORDER BY vec_id LIMIT 10000").fetchnumpy()["embedding"]
    x = np.stack([np.asarray(v, dtype="float64") for v in sample])
    cb = train_pq_codebooks(x, m, ksub, seed)
    sub = x.shape[1] // m
    rows = ", ".join(
        f"({j}, {i}, [{', '.join(repr(float(c)) for c in cb[j, i])}])"
        for j in range(m) for i in range(ksub))
    return f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cb(sub, idx, c) AS (VALUES {rows}),
subs AS (SELECT DISTINCT sub FROM cb),
subv AS (
  SELECT vec_id, sub, v[sub * {sub} + 1 : (sub + 1) * {sub}] AS vs
  FROM base CROSS JOIN subs),
codes AS (
  SELECT vec_id, sub, idx FROM (
    SELECT s.vec_id, s.sub, cb.idx,
           ROW_NUMBER() OVER (
             PARTITION BY s.vec_id, s.sub
             ORDER BY list_dot_product(s.vs, s.vs)
                      - 2 * list_dot_product(s.vs, cb.c)
                      + list_dot_product(cb.c, cb.c) ASC,
                      cb.idx ASC) AS rn
    FROM subv s JOIN cb ON cb.sub = s.sub) WHERE rn = 1),
tbl AS (
  SELECT q.vec_id AS query_id, s.sub, cb.idx,
         list_dot_product(s.vs, s.vs)
         - 2 * list_dot_product(s.vs, cb.c)
         + list_dot_product(cb.c, cb.c) AS d
  FROM base q
  JOIN subv s ON s.vec_id = q.vec_id
  JOIN cb ON cb.sub = s.sub
  WHERE q.vec_id < 5),
scored AS (
  SELECT t.query_id, c.vec_id, SUM(t.d) AS adist
  FROM codes c JOIN tbl t ON t.sub = c.sub AND t.idx = c.idx
  GROUP BY 1, 2),
ranked AS (
  SELECT query_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adist ASC, vec_id ASC) AS rank,
         adist
  FROM scored)
SELECT query_id, vec_id, rank, ROUND(adist, 6) AS adist
FROM ranked WHERE rank <= {k}
"""

def _sim_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: coarse k-means cells prune to nprobe cells per query, PQ
    codes score the survivors by asymmetric distance — the production
    ANN layout. Both quantizers deterministic (same lowest-10k-id
    sample, fixed seed); the oracle re-trains both and mirrors cell
    argmax, code argmin, and the table-sum distances in SQL."""
    from pipelinedp_spark.operators import similarity
    emb = _t(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    out = similarity.ivf_pq_topk(emb, q, k=10, num_cells=8, nprobe=2,
                                 m=4, ksub=16)
    return out.withColumn("rank", F.col("rank").cast("long"))

def _sim_ann_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search served from a PERSISTED vector index
    (`similarity.build_ann_index` + `ann_search_from_index`): the
    embeddings encode once into a codes table PARTITIONED BY cell plus
    persisted quantizer models; the search prunes the scan to the
    queries' nprobe=3 partitions and never re-encodes the corpus.
    Results are exactly `ivf_pq_topk` at the same models (k=8/nprobe=3
    distinguish the rows from sim_ivf_pq_topk's k=10/nprobe=2); the
    oracle re-trains both quantizers and replays the whole scoring in
    SQL. Store tables dropped after checkpointing."""
    from pipelinedp_spark.operators import similarity
    emb = _t(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    similarity.build_ann_index(emb, "ann_idx_r9", num_cells=8, m=4,
                               ksub=16)
    out = (similarity.ann_search_from_index(q, "ann_idx_r9", k=8,
                                            nprobe=3)
           .withColumn("rank", F.col("rank").cast("long"))
           .localCheckpoint())
    for t in ("ann_idx_r9_codes", "ann_idx_r9_centroids",
              "ann_idx_r9_codebooks", "ann_idx_r9_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    return out

def _stream_ann_store_mirror(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Batch mirror of `stream_into('ann', ...)` with exact
    two-trigger semantics: the index bootstraps EMPTY with persisted
    quantizer models (trained on the standard deterministic sample);
    trigger 0 ingests embeddings with vec_id % 3 == 0, trigger 1 the
    rest — each append refreshes the model tables and encodes with the
    PERSISTED models, exactly the foreachBatch body. The post-ingest
    `ann_search_from_index` (k=6/nprobe=4 distinguish the rows from
    the sim_* siblings) must therefore equal a whole-corpus IVF-PQ
    scoring — the oracle replays it in SQL with the same retrained
    quantizer literals. Store tables dropped after checkpointing."""
    from pipelinedp_spark.operators import similarity
    emb = _t(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    x = similarity.sample_corpus_matrix(emb, "vec_id", "embedding",
                                        10_000)
    cents = similarity.train_ivf_centroids(x, 8, 7)
    cb = similarity.train_pq_codebooks(x, 4, 16, 7)
    similarity.build_ann_index(emb.limit(0), "ann_idx_r10s",
                               num_cells=8, m=4, ksub=16,
                               centroids=cents, codebooks=cb)
    from pipelinedp_spark import store
    batches = (emb.filter(F.col("vec_id") % 3 == 0),
               emb.filter(F.col("vec_id") % 3 != 0))
    # the REAL foreachBatch body of stream_into, plus an
    # at-least-once REPLAY of trigger 1: without the ingest-log guard
    # the replay appends duplicate code rows that occupy extra top-k
    # slots (row_number ranks the copies adjacently) and the oracle
    # equality below breaks — the serve IS the idempotence proof.
    applied0 = store.ingest_batch_once("ann", batches[0], "ann_idx_r10s", 0)
    applied1 = store.ingest_batch_once("ann", batches[1], "ann_idx_r10s", 1)
    replayed = store.ingest_batch_once("ann", batches[1], "ann_idx_r10s", 1)
    if not (applied0 and applied1 and not replayed):
        raise AssertionError("ann ingest-log guard broke")
    out = (similarity.ann_search_from_index(q, "ann_idx_r10s", k=6,
                                            nprobe=4)
           .withColumn("rank", F.col("rank").cast("long"))
           .localCheckpoint())
    for t in ("ann_idx_r10s_codes", "ann_idx_r10s_centroids",
              "ann_idx_r10s_codebooks", "ann_idx_r10s_meta",
              "ann_idx_r10s_ingest_log"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    return out

def _gen_ivf_pq_topk_sql(num_cells: int = 8, nprobe: int = 2, m: int = 4,
                         ksub: int = 16, k: int = 10, seed: int = 7,
                         sf_dir: str = "/root/testdata/sf0.01",
                         corpus_where: str = "TRUE") -> str:
    """SQL mirror of `similarity.ivf_pq_topk`: both quantizers re-trained
    from the same parquet sample, centroid AND codebook literals
    injected; candidates = corpus cells joined to each query's nprobe
    cells; distances = PQ table sums (identical CTE structure to the ivf
    and pq oracles, composed)."""
    import numpy as np
    import duckdb
    from pipelinedp_spark.operators.similarity import (train_ivf_centroids,
                                                       train_pq_codebooks)

    sample = duckdb.sql(
        f"SELECT embedding FROM read_parquet('{sf_dir}/embeddings.parquet') "
        f"ORDER BY vec_id LIMIT 10000").fetchnumpy()["embedding"]
    x = np.stack([np.asarray(v, dtype="float64") for v in sample])
    cents = train_ivf_centroids(x, num_cells, seed)
    cb = train_pq_codebooks(x, m, ksub, seed)
    sub = x.shape[1] // m
    cell_rows = ", ".join(
        f"({i}, [{', '.join(repr(float(c)) for c in cents[i])}])"
        for i in range(len(cents)))
    cb_rows = ", ".join(
        f"({j}, {i}, [{', '.join(repr(float(c)) for c in cb[j, i])}])"
        for j in range(m) for i in range(ksub))
    return f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cells(cell, cv) AS (VALUES {cell_rows}),
cb(sub, idx, c) AS (VALUES {cb_rows}),
subs AS (SELECT DISTINCT sub FROM cb),
ass AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY list_dot_product(v, cv) DESC,
                                       cell ASC) AS rn
    FROM base CROSS JOIN cells WHERE {corpus_where}) WHERE rn = 1),
qcells AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY list_dot_product(v, cv) DESC,
                                       cell ASC) AS rn
    FROM base CROSS JOIN cells WHERE vec_id < 5) WHERE rn <= {nprobe}),
subv AS (
  SELECT vec_id, sub, v[sub * {sub} + 1 : (sub + 1) * {sub}] AS vs
  FROM base CROSS JOIN subs),
codes AS (
  SELECT vec_id, sub, idx FROM (
    SELECT s.vec_id, s.sub, cb.idx,
           ROW_NUMBER() OVER (
             PARTITION BY s.vec_id, s.sub
             ORDER BY list_dot_product(s.vs, s.vs)
                      - 2 * list_dot_product(s.vs, cb.c)
                      + list_dot_product(cb.c, cb.c) ASC,
                      cb.idx ASC) AS rn
    FROM subv s JOIN cb ON cb.sub = s.sub) WHERE rn = 1),
tbl AS (
  SELECT s.vec_id AS query_id, s.sub, cb.idx,
         list_dot_product(s.vs, s.vs)
         - 2 * list_dot_product(s.vs, cb.c)
         + list_dot_product(cb.c, cb.c) AS d
  FROM subv s JOIN cb ON cb.sub = s.sub
  WHERE s.vec_id < 5),
cand AS (
  SELECT q.query_id, a.vec_id
  FROM ass a JOIN qcells q USING (cell)),
scored AS (
  SELECT cand.query_id, cand.vec_id, SUM(t.d) AS adist
  FROM cand
  JOIN codes c ON c.vec_id = cand.vec_id
  JOIN tbl t ON t.query_id = cand.query_id AND t.sub = c.sub
            AND t.idx = c.idx
  GROUP BY 1, 2),
ranked AS (
  SELECT query_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adist ASC, vec_id ASC) AS rank,
         adist
  FROM scored)
SELECT query_id, vec_id, rank, ROUND(adist, 6) AS adist
FROM ranked WHERE rank <= {k}
"""

def _dp_variance_selected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DP variance under PRIVATE Laplace-thresholding partition selection
    (variance was otherwise only oracle-checked on public partitions):
    per (event_type, day) windows, the ~53.5 threshold at this budget
    keeps roughly half of the 42-67-user partitions, so the selection
    path is genuinely exercised. Zero noise; per-contribution clip to
    [0, 500] non-binding."""
    ev = _t(spark, sf_dir, "events")
    day_us = 86_400_000_000
    ev = ev.withColumn(
        "day", F.floor(F.col("ts") / F.lit(day_us)).cast("long"))
    query = (pds.QueryBuilder(ev, "user_id")
             .groupby(["event_type", "day"], max_groups_contributed=100,
                      max_contributions_per_group=1_000_000,
                      partition_selection_strategy=pds.
                      PartitionSelectionStrategy.LAPLACE_THRESHOLDING)
             .variance("value", min_value=0.0, max_value=500.0,
                       name="var_value")
             .build_query())
    out = query.run_query(pds.Budget(50.0, 1e-4), noise_mode="zero")
    return out.select("event_type", F.col("day").cast("long").alias("day"),
                      F.round("var_value", 6).alias("var_value"))

def _dp_windowed_percentile_events(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Batch mirror of streaming.dp_streaming_percentile: DP percentiles
    (50, 90) of event value per (event_type, tumbling 1-day window)
    under PRIVATE Laplace-thresholding window selection — the windowed
    analogue of dp_percentile_public, closing the streaming-percentile
    oracle gap. 256-bin histogram over [0, 500] (non-binding clip),
    zero noise."""
    ev = _t(spark, sf_dir, "events")
    day_us = 86_400_000_000
    ev = ev.withColumn(
        "day", F.floor(F.col("ts") / F.lit(day_us)).cast("long"))
    query = (pds.QueryBuilder(ev, "user_id")
             .groupby(["event_type", "day"], max_groups_contributed=100,
                      max_contributions_per_group=1_000_000,
                      partition_selection_strategy=pds.
                      PartitionSelectionStrategy.LAPLACE_THRESHOLDING)
             .percentile("value", 50, min_value=0.0, max_value=500.0)
             .percentile("value", 90, min_value=0.0, max_value=500.0)
             .build_query())
    out = query.run_query(pds.Budget(50.0, 1e-4), noise_mode="zero")
    return out.select(
        "event_type", F.col("day").cast("long").alias("day"),
        F.round(F.col("percentile_50"), 6).alias("percentile_50"),
        F.round(F.col("percentile_90"), 6).alias("percentile_90"))

def _dp_windowed_percentile_events_sql() -> str:
    threshold = _laplace_threshold_for(25.0, 1e-4, 100)
    nbins = 256
    return f"""
WITH ev AS (
    SELECT user_id, event_type, value,
           CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day
    FROM events),
sel AS (
    SELECT event_type, day
    FROM ev GROUP BY 1, 2
    HAVING COUNT(DISTINCT user_id) >= {threshold}),
b AS (
  SELECT event_type, day,
         LEAST({nbins - 1},
               FLOOR(GREATEST(LEAST(value, 500.0), 0.0)
                     / (500.0/{nbins}))) AS bin,
         CAST(COUNT(*) AS DOUBLE) AS cnt
  FROM ev JOIN sel USING (event_type, day)
  GROUP BY 1, 2, 3),
c AS (
  SELECT event_type, day, bin, cnt,
         SUM(cnt) OVER (PARTITION BY event_type, day ORDER BY bin)
             AS cum,
         SUM(cnt) OVER (PARTITION BY event_type, day) AS tot
  FROM b),
p AS (SELECT UNNEST([50.0, 90.0]) AS p),
vals AS (
  SELECT event_type, day, p.p AS p,
         MIN_BY(0.0 + (500.0/{nbins}) *
                (bin + ((p.p/100.0*tot) - (cum - cnt)) / cnt), bin)
             AS val
  FROM c, p
  WHERE cnt > 0 AND cum >= p.p/100.0*tot
  GROUP BY 1, 2, 3)
SELECT event_type, day,
       CAST(ROUND(MAX(CASE WHEN p = 50.0 THEN val END), 6) AS DOUBLE)
           AS percentile_50,
       CAST(ROUND(MAX(CASE WHEN p = 90.0 THEN val END), 6) AS DOUBLE)
           AS percentile_90
FROM vals GROUP BY 1, 2 ORDER BY 1, 2
"""

def _dp_windowed_percentile_tree_events(spark: SparkSession,
                                        sf_dir: str) -> DataFrame:
    """Batch mirror of streaming.dp_streaming_percentile with
    ``percentile_algorithm="tree"``: the per-(event_type, day) median of
    per-user day averages via the reference h=4/b=16 quantile tree
    (leaf resolution 16^4 over [0, 500]), zero noise, windows declared
    public. The per-user averages are released through the engine stage
    the stream releases through (``DPEngine.aggregate_partials``: per-key
    sparse leaf histogram, then the Arrow-batched noisy descent), with the
    batch groupBy standing in for the stateful aggregation; ``n_users`` is
    the descent's noisy total. The oracle reproduces the zero-noise
    descent in closed form: first leaf whose cumulative count crosses
    rank = 0.5 * total, with within-leaf linear interpolation — the flat
    equivalent of the nested first-crossing descent."""
    from pipelinedp_spark.dp_engine import PARTIAL_VALUE, PERCENTILE_TOTAL
    ev = _t(spark, sf_dir, "events")
    day_us = 86_400_000_000
    per_user = (ev.withColumn(
        "day", F.floor(F.col("ts") / F.lit(day_us)).cast("long"))
        .groupBy(F.col("user_id").alias("__pid__"),
                 F.struct(F.col("event_type"), F.col("day"))
                 .alias("window"))
        .agg(F.avg(F.greatest(F.least(F.col("value"), F.lit(500.0)),
                              F.lit(0.0))).alias(PARTIAL_VALUE)))
    acct = pds.NaiveBudgetAccountant(1.0, 0.0)
    res = pds.DPEngine(acct, noise_mode="zero").aggregate_partials(
        per_user, pds.AggregateParams(
            metrics=[pds.Metrics.PERCENTILE(50)],
            max_partitions_contributed=1, max_contributions_per_partition=1,
            min_value=0.0, max_value=500.0, percentile_algorithm="tree",
            public_partitions_already_filtered=True), ["window"])
    acct.compute_budgets()
    return res.dataframe().select(
        F.col("window.event_type").alias("event_type"),
        F.col("window.day").cast("long").alias("day"),
        F.round(F.col("percentile_50"), 6).alias("p50_tree"),
        F.col(PERCENTILE_TOTAL).cast("long").alias("n_users"))

_DP_WINDOWED_PCT_TREE_SQL = """
WITH ev AS (
    SELECT user_id, event_type,
           CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day,
           GREATEST(LEAST(value, 500.0), 0.0) AS v
    FROM events),
ub AS (
    SELECT user_id, event_type, day, AVG(v) AS uval
    FROM ev GROUP BY 1, 2, 3),
lf AS (
    SELECT event_type, day,
           CAST(LEAST(65535, GREATEST(0,
                FLOOR(uval / (500.0 / 65536)))) AS BIGINT) AS leaf,
           CAST(COUNT(*) AS DOUBLE) AS cnt
    FROM ub GROUP BY 1, 2, 3),
c AS (
    SELECT event_type, day, leaf, cnt,
           SUM(cnt) OVER (PARTITION BY event_type, day ORDER BY leaf)
               AS cum,
           SUM(cnt) OVER (PARTITION BY event_type, day) AS tot
    FROM lf)
SELECT event_type, day,
       CAST(ROUND(MIN_BY((500.0 / 65536)
                         * (leaf + ((0.5 * tot) - (cum - cnt)) / cnt),
                         leaf), 6) AS DOUBLE) AS p50_tree,
       CAST(ANY_VALUE(tot) AS BIGINT) AS n_users
FROM c
WHERE cum >= 0.5 * tot
GROUP BY 1, 2 ORDER BY 1, 2
"""

def _doc_gram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document 5-gram novelty (`quality.ngram_novelty`): per doc,
    the fraction of its distinct word 5-grams with corpus-wide document
    frequency 1 — the cross-doc originality signal the within-doc
    repetition rules can't see. One explode, one combinable gram-DF
    groupBy (checkpointed), one gram-keyed shuffle join."""
    from pipelinedp_spark.operators.quality import ngram_novelty
    docs = _t(spark, sf_dir, "documents")
    return ngram_novelty(docs, n=5)

_DOC_GRAM_NOVELTY_SQL = """
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g AS (
  SELECT doc_id,
         unnest(list_distinct(
             CASE WHEN len(t) >= 5
                  THEN [array_to_string(t[i:i+4], ' ')
                        for i in range(1, len(t) - 3)]
                  ELSE [array_to_string(t, ' ')] END)) AS gram
  FROM tok),
df AS (SELECT gram, COUNT(*) AS d FROM g GROUP BY 1)
SELECT g.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       ROUND(SUM(CASE WHEN df.d = 1 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
FROM g JOIN df USING (gram)
GROUP BY 1 ORDER BY 1
"""

def _events_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout key over (user_id, ts) — the multi-column
    data-skipping layout (`functions/layout.py`): interleaved bits of
    exact-min/max-bucketized columns, pure shift/or codegen. At 100 TB
    this key drives `write_zordered` so file min/max stats prune scans
    filtering on EITHER column; here the key itself is oracle-checked
    bit-for-bit (the SQL mirror re-derives the same buckets and
    interleave)."""
    from pipelinedp_spark.functions.layout import with_zorder_key
    ev = _t(spark, sf_dir, "events")
    return (with_zorder_key(ev, ["user_id", "ts"], bits=16)
            .select("event_id", "zkey"))

def _gen_zorder_sql(bits: int = 16) -> str:
    terms = []
    for i, b in enumerate(("bu", "bt")):
        for k in range(bits):
            terms.append(f"((({b} >> {k}) & 1) << {k * 2 + i})")
    expr = " | ".join(terms)
    n = (1 << bits) - 1
    scale = float(1 << bits)
    return f"""
WITH rng AS (
  SELECT MIN(CAST(user_id AS DOUBLE)) AS lou,
         MAX(CAST(user_id AS DOUBLE)) AS hiu,
         MIN(CAST(epoch_us(ts) AS DOUBLE)) AS lot,
         MAX(CAST(epoch_us(ts) AS DOUBLE)) AS hit
  FROM events),
b AS (
  SELECT event_id,
         CASE WHEN hiu <= lou THEN 0 ELSE
           CAST(LEAST({n}, GREATEST(0,
             FLOOR((CAST(user_id AS DOUBLE) - lou) / (hiu - lou)
                   * {scale!r}))) AS BIGINT) END AS bu,
         CASE WHEN hit <= lot THEN 0 ELSE
           CAST(LEAST({n}, GREATEST(0,
             FLOOR((CAST(epoch_us(ts) AS DOUBLE) - lot) / (hit - lot)
                   * {scale!r}))) AS BIGINT) END AS bt
  FROM events, rng)
SELECT event_id, CAST({expr} AS BIGINT) AS zkey
FROM b ORDER BY event_id
"""

def _dp_trending_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DP trending terms: occurrence counts per word BIGRAM with PRIVATE
    Laplace-thresholding selection over the bigram space — the release
    shape for "what phrases are trending" over a sensitive corpus: the
    document is the privacy unit, the partition key is text-derived
    (exploded bigrams, not a column), and rare bigrams (few supporting
    docs) are suppressed by DP selection rather than a public list.
    Caps (L0=120 distinct bigrams/doc, Linf=50 occurrences) are
    non-binding at every test SF, zero noise, so the oracle reproduces
    the surviving set and counts exactly."""
    docs = _t(spark, sf_dir, "documents")
    from pipelinedp_spark.functions import text as TX
    t = TX.tokens(F.col("text"))
    pairs = (docs.select(
        "doc_id",
        F.explode(F.arrays_zip(
            F.slice(t, 1, F.size(t) - 1).alias("v"),
            F.slice(t, 2, F.size(t) - 1).alias("w"))).alias("p"))
        .select("doc_id",
                F.concat_ws(" ", F.col("p.v"), F.col("p.w"))
                .alias("bigram")))
    query = (pds.QueryBuilder(pairs, "doc_id")
             .groupby("bigram", max_groups_contributed=120,
                      max_contributions_per_group=50,
                      partition_selection_strategy=pds.
                      PartitionSelectionStrategy.LAPLACE_THRESHOLDING)
             .count(name="n_occurrences")
             .build_query())
    return query.run_query(pds.Budget(100.0, 1e-4), noise_mode="zero")

def _gen_trending_bigrams_sql() -> str:
    threshold = _laplace_threshold_for(50.0, 1e-4, 120)
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
p AS (
  SELECT doc_id,
         unnest([tk[i] || ' ' || tk[i+1]
                 for i in range(1, len(tk))]) AS bigram
  FROM t),
agg AS (
  SELECT bigram, CAST(COUNT(*) AS DOUBLE) AS n_occurrences,
         COUNT(DISTINCT doc_id) AS df
  FROM p GROUP BY 1)
SELECT bigram, n_occurrences
FROM agg WHERE df >= {threshold!r}
ORDER BY bigram
"""

def _doc_vocab_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-cardinality estimate (`sampling.kmv_distinct_estimate`,
    k=256) over the corpus's word 5-grams — the deterministic, engine-
    portable sketch for sizing shuffles/broadcasts before running them.
    One row out."""
    from pipelinedp_spark.functions.sampling import kmv_distinct_estimate
    from pipelinedp_spark.functions import text as TX
    docs = _t(spark, sf_dir, "documents")
    grams = docs.select(
        F.explode(TX._word_ngrams(F.col("text"), 5)).alias("gram"))
    return kmv_distinct_estimate(grams, "gram", k=256)

_DOC_VOCAB_ESTIMATE_SQL = """
WITH tok AS (SELECT string_split(text, ' ') AS t FROM documents),
g AS (
  SELECT unnest(CASE WHEN len(t) >= 5
                     THEN [array_to_string(t[i:i+4], ' ')
                           for i in range(1, len(t) - 3)]
                     ELSE [array_to_string(t, ' ')] END) AS gram
  FROM tok),
h AS (SELECT DISTINCT
        ('0x' || substr(md5('kmv:' || gram), 1, 15))::BIGINT
            / 1152921504606846976.0 AS h
      FROM g),
s AS (SELECT h FROM h ORDER BY h LIMIT 256)
SELECT CAST(COUNT(*) AS BIGINT) AS k_used,
       MAX(h) AS kth_min,
       ROUND(CASE WHEN COUNT(*) < 256 THEN CAST(COUNT(*) AS DOUBLE)
                  ELSE (256.0 - 1.0) / MAX(h) END, 6) AS estimate
FROM s
"""

def _doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (`sampling.weighted_sample_topk`, Efraimidis-Spirakis keys over
    md5 uniforms): 50 docs drawn proportionally to length — the
    reproducible corpus-subsetting move (no RNG state, identical across
    engines/partitionings). TakeOrderedAndProject shape."""
    from pipelinedp_spark.functions.sampling import weighted_sample_topk
    docs = _t(spark, sf_dir, "documents")
    return weighted_sample_topk(docs, "n_chars", 50, "doc_id") \
        .select("doc_id", "n_chars")

_DOC_WEIGHTED_SAMPLE_SQL = """
SELECT doc_id, n_chars FROM documents
WHERE n_chars > 0
ORDER BY ln(('0x' || substr(md5('wsample:' || CAST(doc_id AS VARCHAR)),
             1, 15))::BIGINT / 1152921504606846976.0)
         / CAST(n_chars AS DOUBLE) DESC,
         doc_id ASC
LIMIT 50
"""

def _doc_dup_rate_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled duplicate 8-gram mass estimate
    (`dedup.gram_dup_rate_estimate`): the pre-pass planning statistic
    for span dedup — grams Bernoulli-sampled BY VALUE (md5 bucket % 4),
    so the estimator is unbiased and the shuffle carries 1/4 of the gram
    occurrences. One row out."""
    from pipelinedp_spark.operators.dedup import gram_dup_rate_estimate
    docs = _t(spark, sf_dir, "documents")
    return gram_dup_rate_estimate(docs, n=8, sample_mod=4)

_DOC_DUP_RATE_SQL = """
WITH tok AS (SELECT string_split(text, ' ') AS t FROM documents),
g AS (
  SELECT unnest(CASE WHEN len(t) >= 8
                     THEN [array_to_string(t[i:i+7], ' ')
                           for i in range(1, len(t) - 6)]
                     ELSE [array_to_string(t, ' ')] END) AS gram
  FROM tok),
s AS (SELECT gram FROM g
      WHERE ('0x' || substr(md5(gram), 1, 15))::BIGINT % 4 = 0),
c AS (SELECT gram, COUNT(*) AS o FROM s GROUP BY 1)
SELECT CAST(COALESCE(SUM(o), 0) AS BIGINT) AS sampled_grams,
       CAST(COUNT(*) AS BIGINT) AS distinct_grams,
       CAST(COALESCE(SUM(o - 1), 0) AS BIGINT) AS dup_occurrences,
       CASE WHEN COALESCE(SUM(o), 0) > 0
            THEN ROUND(SUM(o - 1) / CAST(SUM(o) AS DOUBLE), 6)
            ELSE 0.0 END AS dup_rate
FROM c
"""

def _doc_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style per-origin cap (`sampling.cap_per_key`): keep at
    most 15 lowest-id docs per source, bounding any one origin's corpus
    share (binding at every test SF: sources hold 25+ docs each).
    Compiles to partial+final WindowGroupLimit — map-side top-n, hot
    sources never concentrate on one task."""
    from pipelinedp_spark.functions.sampling import cap_per_key
    docs = _t(spark, sf_dir, "documents")
    return cap_per_key(docs, "source", 15, "doc_id") \
        .select("doc_id", "source")

_DOC_SOURCE_QUOTA_SQL = """
SELECT doc_id, source FROM documents
QUALIFY ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) <= 15
ORDER BY doc_id
"""

def _doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix-C style 5-gram overlap):
    docs with doc_id % 97 == 0 act as the eval set; every remaining doc
    sharing a word 5-gram with it is flagged with its occurrence count.
    Eval grams broadcast; corpus side is one explode + broadcast
    semi-join + map-side-combined per-doc count."""
    from pipelinedp_spark.operators.decontam import contamination_hits
    docs = _t(spark, sf_dir, "documents")
    evald = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return (contamination_hits(train, evald, n=3)
            .select("doc_id", F.col("n_hits").cast("long").alias("n_hits")))

_DOC_DECONTAMINATE_SQL = """
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
  WHERE doc_id % 97 <> 0)
SELECT corpus.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
FROM corpus JOIN ev USING (h)
GROUP BY 1 ORDER BY 1
"""

def _doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (GPT-style pretraining layout):
    documents concatenated in doc_id order, chunked into 2048-token
    sequences; each doc's placement (start sequence, in-sequence offset,
    sequences spanned) via the distributed two-phase prefix sum — no
    corpus-wide single-task window."""
    from pipelinedp_spark.operators.packing import pack_sequences
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return (pack_sequences(docs, seq_len=2048)
            .select("doc_id", "n_tokens", "start_seq", "start_off",
                    "n_seqs"))

_DOC_PACK_SQL = """
WITH t AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
  FROM documents),
c AS (
  SELECT doc_id, n,
         SUM(n) OVER (ORDER BY doc_id
                      ROWS UNBOUNDED PRECEDING) AS cum
  FROM t)
SELECT doc_id,
       n AS n_tokens,
       CAST((cum - n) // 2048 AS BIGINT) AS start_seq,
       CAST((cum - n) % 2048 AS BIGINT) AS start_off,
       CAST(CASE WHEN n = 0 THEN 0
                 ELSE (cum - 1) // 2048 - (cum - n) // 2048 + 1
            END AS BIGINT) AS n_seqs
FROM c ORDER BY doc_id
"""

def _dp_variance_selected_sql() -> str:
    threshold = _laplace_threshold_for(25.0, 1e-4, 100)
    return f"""
WITH ev AS (
    SELECT user_id, event_type, value,
           CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day
    FROM events),
agg AS (
    SELECT event_type, day,
           COUNT(DISTINCT user_id) AS n_users,
           SUM(POW(GREATEST(LEAST(value, 500.0), 0.0) - 250.0, 2))
               / GREATEST(1.0, COUNT(*))
           - POW(SUM(GREATEST(LEAST(value, 500.0), 0.0) - 250.0)
                 / GREATEST(1.0, COUNT(*)), 2) AS var_raw
    FROM ev GROUP BY 1, 2)
SELECT event_type, day, ROUND(var_raw, 6) AS var_value
FROM agg WHERE n_users >= {threshold}
ORDER BY 1, 2
"""


QUERIES = {
    "utility_analysis_count_sum": _utility_analysis_count_sum,
    "utility_analysis_variance": _utility_analysis_variance,
    "analysis_histograms": _analysis_histograms,
    "doc_containment": _doc_containment,
    "multimodal_png_decode": _multimodal_png_decode,
    "dp_count_join_nation": _dp_count_join_nation,
    "dp_windowed_variance_events": _dp_windowed_variance_events,
    "doc_quality_signals": _doc_quality_signals,
    "doc_pii_scrub": _doc_pii_scrub,
    "bpe_train_merges": _bpe_train_merges,
    "bpe_encode": _bpe_encode,
    "sim_pq_topk": _sim_pq_topk,
    "sim_ivf_pq_topk": _sim_ivf_pq_topk,
    "sim_ann_store": _sim_ann_store,
    "dp_variance_selected": _dp_variance_selected,
    "dp_windowed_percentile_events": _dp_windowed_percentile_events,
    "doc_decontaminate": _doc_decontaminate,
    "doc_pack_sequences": _doc_pack_sequences,
    "stream_ann_store_mirror": _stream_ann_store_mirror,
    "dp_windowed_percentile_tree_events": _dp_windowed_percentile_tree_events,
    "doc_gram_novelty": _doc_gram_novelty,
    "doc_source_quota": _doc_source_quota,
    "doc_dup_rate_estimate": _doc_dup_rate_estimate,
    "events_zorder_key": _events_zorder_key,
    "doc_vocab_estimate": _doc_vocab_estimate,
    "doc_weighted_sample": _doc_weighted_sample,
    "dp_trending_bigrams": _dp_trending_bigrams,
}

ORACLES = {
    "utility_analysis_count_sum": _UTILITY_ANALYSIS_COUNT_SUM_SQL,
    "utility_analysis_variance": _UTILITY_ANALYSIS_VARIANCE_SQL,
    "analysis_histograms": _ANALYSIS_HISTOGRAMS_SQL,
    "doc_containment": _DOC_CONTAINMENT_SQL,
    "multimodal_png_decode": _MULTIMODAL_PNG_SQL,
    "dp_count_join_nation": _DP_COUNT_JOIN_NATION_SQL,
    "dp_windowed_variance_events": _DP_WINDOWED_VARIANCE_SQL,
    "doc_quality_signals": _DOC_QUALITY_SIGNALS_SQL,
    "doc_pii_scrub": _doc_pii_scrub_sql(),
    "sim_pq_topk": _gen_pq_topk_sql(),
    "sim_ivf_pq_topk": _gen_ivf_pq_topk_sql(),
    "sim_ann_store": _gen_ivf_pq_topk_sql(nprobe=3, k=8),
    "dp_variance_selected": _dp_variance_selected_sql(),
    "dp_windowed_percentile_events": _dp_windowed_percentile_events_sql(),
    "doc_decontaminate": _DOC_DECONTAMINATE_SQL,
    "doc_pack_sequences": _DOC_PACK_SQL,
    "sim_ann_takedown": _gen_ivf_pq_topk_sql(
            nprobe=3, k=7, corpus_where="vec_id % 4 <> 0"),
    "stream_ann_store_mirror": _gen_ivf_pq_topk_sql(nprobe=4, k=6),
    "bpe_encode": _gen_bpe_encode_sql(),
    "bpe_train_merges": _gen_bpe_train_sql(),
    "dp_windowed_percentile_tree_events": _DP_WINDOWED_PCT_TREE_SQL,
    "doc_gram_novelty": _DOC_GRAM_NOVELTY_SQL,
    "doc_source_quota": _DOC_SOURCE_QUOTA_SQL,
    "doc_dup_rate_estimate": _DOC_DUP_RATE_SQL,
    "events_zorder_key": _gen_zorder_sql(),
    "doc_vocab_estimate": _DOC_VOCAB_ESTIMATE_SQL,
    "doc_weighted_sample": _DOC_WEIGHTED_SAMPLE_SQL,
    "dp_trending_bigrams": _gen_trending_bigrams_sql(),
}
