"""Correctness-gate DP queries (deterministic mode) + DuckDB oracles.

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
from pipelinedp_spark import dp_computations as dpc
from pipelinedp_spark.queries.common import _t


def _dp_count_public(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DP count per order priority, public partitions, Linf cap = 3 binding,
    L0 non-binding, zero noise."""
    orders = _t(spark, sf_dir, "orders")
    pub = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    query = (pds.QueryBuilder(orders, "o_custkey")
             .groupby("o_orderpriority", max_groups_contributed=5,
                      max_contributions_per_group=3, public_keys=pub)
             .count()
             .privacy_id_count()
             .build_query())
    return query.run_query(pds.Budget(1.0, 1e-6), noise_mode="zero")

_DP_COUNT_PUBLIC_SQL = """
WITH pub(o_orderpriority) AS (
    VALUES ('1-URGENT'), ('2-HIGH'), ('3-MEDIUM'), ('4-NOT SPECIFIED'),
           ('5-LOW')),
per_user AS (
    SELECT o_custkey, o_orderpriority,
           LEAST(COUNT(*), 3) AS capped_cnt
    FROM orders GROUP BY o_custkey, o_orderpriority),
agg AS (
    SELECT o_orderpriority,
           CAST(SUM(capped_cnt) AS DOUBLE) AS count,
           CAST(COUNT(*) AS DOUBLE) AS privacy_id_count
    FROM per_user GROUP BY o_orderpriority)
SELECT pub.o_orderpriority,
       COALESCE(agg.count, 0.0) AS count,
       COALESCE(agg.privacy_id_count, 0.0) AS privacy_id_count
FROM pub LEFT JOIN agg USING (o_orderpriority)
ORDER BY o_orderpriority
"""

def _dp_count_dedup_corpus(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Composition showcase: EXACT dedup feeds a DP release in one
    lazy plan — survivors (min doc_id per normalized fingerprint, via
    `dedup.exact_dedup`) joined back to their rows, then a DP count +
    privacy-id count per language with privacy unit = SOURCE (the
    crawl feed), Linf cap 4 binding, public language partitions, zero
    noise for the oracle. The pattern a real release runs: dedup the
    corpus, then publish per-language volume stats with source-level
    DP. Catalyst fuses both stages — the dedup's groupBy feeds the
    bounding window without materialization."""
    from pipelinedp_spark.operators import dedup
    docs = _t(spark, sf_dir, "documents")
    keep = dedup.exact_dedup(docs).select("doc_id")
    survivors = docs.join(keep, "doc_id").select(
        "doc_id", "lang", "source")
    query = (pds.QueryBuilder(survivors, "source")
             .groupby("lang", max_groups_contributed=5,
                      max_contributions_per_group=4,
                      public_keys=["de", "en", "es", "fr", "zh"])
             .count()
             .privacy_id_count()
             .build_query())
    return query.run_query(pds.Budget(1.0, 1e-6), noise_mode="zero")

_DP_COUNT_DEDUP_SQL = """
WITH pub(lang) AS (
    VALUES ('de'), ('en'), ('es'), ('fr'), ('zh')),
fp AS (
    SELECT doc_id, lang, source,
           md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g'))
               AS fingerprint
    FROM documents),
keep AS (
    SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY fingerprint),
survivors AS (
    SELECT f.lang, f.source FROM fp f JOIN keep k USING (doc_id)),
per_source AS (
    SELECT source, lang, LEAST(COUNT(*), 4) AS capped_cnt
    FROM survivors GROUP BY source, lang),
agg AS (
    SELECT lang,
           CAST(SUM(capped_cnt) AS DOUBLE) AS count,
           CAST(COUNT(*) AS DOUBLE) AS privacy_id_count
    FROM per_source GROUP BY lang)
SELECT pub.lang,
       COALESCE(agg.count, 0.0) AS count,
       COALESCE(agg.privacy_id_count, 0.0) AS privacy_id_count
FROM pub LEFT JOIN agg USING (lang)
ORDER BY lang
"""

def _dp_sum_clip_per_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DP sum of lineitem quantity per return flag; per-partition clip of each
    supplier's per-flag quantity sum to [0, 100]; zero noise."""
    li = _t(spark, sf_dir, "lineitem")
    query = (pds.QueryBuilder(li, "l_suppkey")
             .groupby("l_returnflag", max_groups_contributed=3,
                      max_contributions_per_group=1_000_000,
                      public_keys=["A", "N", "R"])
             .sum("l_quantity", min_sum_per_partition=0.0,
                  max_sum_per_partition=100.0, name="sum_qty")
             .build_query())
    return query.run_query(pds.Budget(1.0), noise_mode="zero")

_DP_SUM_CLIP_SQL = """
WITH pub(l_returnflag) AS (VALUES ('A'), ('N'), ('R')),
per_user AS (
    SELECT l_suppkey, l_returnflag,
           GREATEST(LEAST(SUM(l_quantity), 100.0), 0.0) AS clipped
    FROM lineitem GROUP BY l_suppkey, l_returnflag),
agg AS (
    SELECT l_returnflag, CAST(SUM(clipped) AS DOUBLE) AS sum_qty
    FROM per_user GROUP BY l_returnflag)
SELECT pub.l_returnflag, COALESCE(agg.sum_qty, 0.0) AS sum_qty
FROM pub LEFT JOIN agg USING (l_returnflag)
ORDER BY l_returnflag
"""

def _dp_sum_clip_per_contribution(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """DP sum per return flag with per-contribution clipping of quantity to
    [5, 30]; Linf cap non-binding (max rows per (supp, flag) < cap); zero
    noise."""
    li = _t(spark, sf_dir, "lineitem")
    query = (pds.QueryBuilder(li, "l_suppkey")
             .groupby("l_returnflag", max_groups_contributed=3,
                      max_contributions_per_group=1_000_000,
                      public_keys=["A", "N", "R"])
             .sum("l_quantity", min_value=5.0, max_value=30.0,
                  name="sum_qty_clipped")
             .build_query())
    return query.run_query(pds.Budget(1.0), noise_mode="zero")

_DP_SUM_CONTRIB_SQL = """
WITH pub(l_returnflag) AS (VALUES ('A'), ('N'), ('R')),
agg AS (
    SELECT l_returnflag,
           CAST(SUM(GREATEST(LEAST(l_quantity, 30.0), 5.0)) AS DOUBLE)
               AS sum_qty_clipped
    FROM lineitem GROUP BY l_returnflag)
SELECT pub.l_returnflag, COALESCE(agg.sum_qty_clipped, 0.0) AS sum_qty_clipped
FROM pub LEFT JOIN agg USING (l_returnflag)
ORDER BY l_returnflag
"""

def _dp_mean_public(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DP mean of event value per event type, clip [0, 50], caps non-binding,
    zero noise. Rounded to 6dp for stable hashing."""
    ev = _t(spark, sf_dir, "events")
    pub = ["click", "error", "purchase", "signup", "view"]
    query = (pds.QueryBuilder(ev, "user_id")
             .groupby("event_type", max_groups_contributed=10,
                      max_contributions_per_group=1_000_000, public_keys=pub)
             .mean("value", min_value=0.0, max_value=50.0, name="mean_value")
             .build_query())
    out = query.run_query(pds.Budget(1.0, 1e-6), noise_mode="zero")
    return out.select(
        "event_type",
        F.round(F.col("mean_value"), 6).alias("mean_value"))

_DP_MEAN_SQL = """
WITH pub(event_type) AS (
    VALUES ('click'), ('error'), ('purchase'), ('signup'), ('view')),
agg AS (
    SELECT event_type,
           25.0 + SUM(GREATEST(LEAST(value, 50.0), 0.0) - 25.0)
                  / GREATEST(1.0, COUNT(*)) AS mean_raw
    FROM events GROUP BY event_type)
SELECT pub.event_type,
       CAST(ROUND(COALESCE(agg.mean_raw, 25.0), 6) AS DOUBLE) AS mean_value
FROM pub LEFT JOIN agg USING (event_type)
ORDER BY event_type
"""

def _dp_variance_public(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DP variance of clipped event value per event type, zero noise."""
    ev = _t(spark, sf_dir, "events")
    pub = ["click", "error", "purchase", "signup", "view"]
    query = (pds.QueryBuilder(ev, "user_id")
             .groupby("event_type", max_groups_contributed=10,
                      max_contributions_per_group=1_000_000, public_keys=pub)
             .variance("value", min_value=0.0, max_value=50.0,
                       name="var_value")
             .build_query())
    out = query.run_query(pds.Budget(1.0, 1e-6), noise_mode="zero")
    return out.select(
        "event_type",
        F.round(F.col("var_value"), 6).alias("var_value"))

_DP_VARIANCE_SQL = """
WITH pub(event_type) AS (
    VALUES ('click'), ('error'), ('purchase'), ('signup'), ('view')),
agg AS (
    SELECT event_type,
           SUM(POW(GREATEST(LEAST(value, 50.0), 0.0) - 25.0, 2))
               / GREATEST(1.0, COUNT(*))
           - POW(SUM(GREATEST(LEAST(value, 50.0), 0.0) - 25.0)
                 / GREATEST(1.0, COUNT(*)), 2) AS var_raw
    FROM events GROUP BY event_type)
SELECT pub.event_type,
       CAST(ROUND(COALESCE(agg.var_raw, 0.0), 6) AS DOUBLE) AS var_value
FROM pub LEFT JOIN agg USING (event_type)
ORDER BY event_type
"""

def _dp_multi_sum_public(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two DP sums (quantity, extendedprice) over different columns sharing
    ONE contribution-bounding pass, plus count; per-partition clips binding,
    zero noise."""
    li = _t(spark, sf_dir, "lineitem")
    query = (pds.QueryBuilder(li, "l_suppkey")
             .groupby("l_returnflag", max_groups_contributed=3,
                      max_contributions_per_group=1_000_000,
                      public_keys=["A", "N", "R"])
             .count()
             .sum("l_quantity", min_sum_per_partition=0.0,
                  max_sum_per_partition=100.0, name="sum_qty")
             .sum("l_extendedprice", min_sum_per_partition=0.0,
                  max_sum_per_partition=50000.0, name="sum_price")
             .build_query())
    out = query.run_query(pds.Budget(1.0), noise_mode="zero")
    return out.select("l_returnflag", "count",
                      F.round("sum_qty", 4).alias("sum_qty"),
                      F.round("sum_price", 4).alias("sum_price"))

_DP_MULTI_SUM_SQL = """
WITH pub(l_returnflag) AS (VALUES ('A'), ('N'), ('R')),
per_user AS (
    SELECT l_suppkey, l_returnflag,
           COUNT(*) AS cnt,
           GREATEST(LEAST(SUM(l_quantity), 100.0), 0.0) AS qty,
           GREATEST(LEAST(SUM(l_extendedprice), 50000.0), 0.0) AS price
    FROM lineitem GROUP BY 1, 2),
agg AS (
    SELECT l_returnflag,
           CAST(SUM(cnt) AS DOUBLE) AS count,
           CAST(ROUND(SUM(qty), 4) AS DOUBLE) AS sum_qty,
           CAST(ROUND(SUM(price), 4) AS DOUBLE) AS sum_price
    FROM per_user GROUP BY 1)
SELECT pub.l_returnflag, COALESCE(agg.count, 0.0) AS count,
       COALESCE(agg.sum_qty, 0.0) AS sum_qty,
       COALESCE(agg.sum_price, 0.0) AS sum_price
FROM pub LEFT JOIN agg USING (l_returnflag)
ORDER BY 1
"""

def _dp_percentile_public(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DP percentiles (50, 90) of clipped event value per event type via the
    256-bin histogram sketch; caps non-binding, zero noise."""
    ev = _t(spark, sf_dir, "events")
    pub = ["click", "error", "purchase", "signup", "view"]
    query = (pds.QueryBuilder(ev, "user_id")
             .groupby("event_type", max_groups_contributed=10,
                      max_contributions_per_group=1_000_000, public_keys=pub)
             .percentile("value", 50, min_value=0.0, max_value=50.0)
             .percentile("value", 90, min_value=0.0, max_value=50.0)
             .build_query())
    out = query.run_query(pds.Budget(1.0, 1e-6), noise_mode="zero")
    return out.select(
        "event_type",
        F.round(F.col("percentile_50"), 6).alias("percentile_50"),
        F.round(F.col("percentile_90"), 6).alias("percentile_90"))

def _gen_percentile_sql(nbins: int) -> str:
    """Histogram-crossing percentile mirror at a given bin resolution.
    Also the oracle for the quantile-tree path: a zero-noise tree descent
    over exact counts selects the same leaf and interpolates the same
    within-leaf rank as crossing the leaf-resolution (16^4-bin) histogram
    directly."""
    return f"""
WITH pub(event_type) AS (
    VALUES ('click'), ('error'), ('purchase'), ('signup'), ('view')),
b AS (
  SELECT event_type,
         LEAST({nbins - 1},
               FLOOR(GREATEST(LEAST(value, 50.0), 0.0) / (50.0/{nbins})))
             AS bin,
         CAST(COUNT(*) AS DOUBLE) AS cnt
  FROM events GROUP BY 1, 2),
c AS (
  SELECT event_type, bin, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
         SUM(cnt) OVER (PARTITION BY event_type) AS tot
  FROM b),
p AS (SELECT UNNEST([50.0, 90.0]) AS p),
sel AS (
  SELECT event_type, p.p AS p,
         MIN_BY(0.0 + (50.0/{nbins}) *
                (bin + ((p.p/100.0*tot) - (cum - cnt)) / cnt), bin) AS val
  FROM c, p
  WHERE cnt > 0 AND cum >= p.p/100.0*tot
  GROUP BY 1, 2)
SELECT pub.event_type,
       CAST(ROUND(COALESCE(MAX(CASE WHEN p = 50.0 THEN val END), 0.0), 6)
            AS DOUBLE) AS percentile_50,
       CAST(ROUND(COALESCE(MAX(CASE WHEN p = 90.0 THEN val END), 0.0), 6)
            AS DOUBLE) AS percentile_90
FROM pub LEFT JOIN sel USING (event_type)
GROUP BY 1 ORDER BY 1
"""

_DP_PERCENTILE_SQL = _gen_percentile_sql(256)

def _dp_percentile_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DP percentiles via the QUANTILE TREE sketch (height-4 branching-16
    hierarchical histogram, reference combiners.py:629-719 semantics).
    Zero noise: the descent over exact counts selects the same leaf and
    within-leaf rank as crossing the 16^4-bin histogram directly, so the
    oracle is the leaf-resolution histogram mirror."""
    from pipelinedp_spark import quantile_tree as qt
    ev = _t(spark, sf_dir, "events")
    pub = ["click", "error", "purchase", "signup", "view"]
    acct = pds.NaiveBudgetAccountant(1.0, 1e-6)
    engine = pds.DPEngine(acct, noise_mode="zero")
    params = pds.AggregateParams(
        metrics=[pds.Metrics.PERCENTILE(50), pds.Metrics.PERCENTILE(90)],
        max_partitions_contributed=10,
        max_contributions_per_partition=1_000_000,
        min_value=0.0, max_value=50.0,
        percentile_algorithm="tree")
    res = engine.aggregate(
        ev, params, pds.DataFrameExtractors("user_id", "event_type",
                                            "value"),
        public_partitions=pub)
    acct.compute_budgets()
    return res.dataframe().select(
        "event_type",
        F.round(F.col("percentile_50"), 6).alias("percentile_50"),
        F.round(F.col("percentile_90"), 6).alias("percentile_90"))

def _dp_count_pld(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DP count driven end-to-end by the PLD budget accountant (privacy-
    loss-distribution composition; reference budget_accounting.py:479-747
    semantics). Zero noise makes the released values budget-independent,
    so the oracle is the plain bounded count — what the query checks is
    that the engine runs against PLD-assigned mechanism specs."""
    orders = _t(spark, sf_dir, "orders")
    acct = pds.PLDBudgetAccountant(1.0, 1e-6)
    engine = pds.DPEngine(acct, noise_mode="zero")
    # L0 cap = 5 is non-binding (5 priorities exist) so zero-noise output
    # is deterministic; the Linf count cap of 5 binds deterministically.
    params = pds.AggregateParams(
        metrics=[pds.Metrics.COUNT, pds.Metrics.PRIVACY_ID_COUNT],
        max_partitions_contributed=5,
        max_contributions_per_partition=5)
    res = engine.aggregate(
        orders, params,
        pds.DataFrameExtractors("o_custkey", "o_orderpriority", None),
        public_partitions=["1-URGENT", "2-HIGH", "3-MEDIUM",
                           "4-NOT SPECIFIED", "5-LOW"])
    acct.compute_budgets()
    return res.dataframe().select(
        "o_orderpriority", F.col("count"),
        F.col("privacy_id_count"))

_DP_COUNT_PLD_SQL = """
WITH pub(o_orderpriority) AS (
    VALUES ('1-URGENT'), ('2-HIGH'), ('3-MEDIUM'), ('4-NOT SPECIFIED'),
           ('5-LOW')),
per_user AS (
  SELECT o_custkey, o_orderpriority, LEAST(COUNT(*), 5) AS capped
  FROM orders GROUP BY 1, 2),
agg AS (
  SELECT o_orderpriority,
         CAST(SUM(capped) AS DOUBLE) AS count,
         CAST(COUNT(*) AS DOUBLE) AS privacy_id_count
  FROM per_user GROUP BY 1)
SELECT pub.o_orderpriority,
       COALESCE(count, 0.0) AS count,
       COALESCE(privacy_id_count, 0.0) AS privacy_id_count
FROM pub LEFT JOIN agg USING (o_orderpriority)
ORDER BY 1
"""

def _dp_vector_sum_public(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DP vector sum of L2-clipped embeddings grouped by vec_id % 7, privacy
    unit vec_id % 57; caps non-binding, clip binding (max_norm=1), zero
    noise. Output exploded to (pk, pos, val) rows for stable hashing."""
    emb = _t(spark, sf_dir, "embeddings")
    df = emb.select((F.col("vec_id") % 57).alias("uid"),
                    (F.col("vec_id") % 7).alias("grp"),
                    F.col("embedding"))
    query = (pds.QueryBuilder(df, "uid")
             .groupby("grp", max_groups_contributed=7,
                      max_contributions_per_group=1000,
                      public_keys=list(range(7)))
             .vector_sum("embedding", max_norm=1.0, vector_size=64,
                         norm_kind=pds.NormKind.L2, name="vs")
             .build_query())
    out = query.run_query(pds.Budget(1.0, 1e-6), noise_mode="zero")
    return out.select("grp", F.posexplode("vs").alias("pos", "val")) \
        .select(F.col("grp").cast("long").alias("grp"),
                F.col("pos").cast("long").alias("pos"),
                F.round(F.col("val"), 6).alias("val"))

_DP_VECTOR_SUM_SQL = """
WITH v AS (
  SELECT vec_id % 7 AS grp, embedding::DOUBLE[] AS e FROM embeddings),
clipped AS (
  SELECT grp,
         CASE WHEN sqrt(list_dot_product(e, e)) > 1.0
              THEN list_transform(e, x -> x * (1.0 / sqrt(
                       list_dot_product(e, e))))
              ELSE e END AS e
  FROM v),
ex AS (
  SELECT grp, UNNEST(e) AS val,
         generate_subscripts(e, 1) - 1 AS pos
  FROM clipped),
agg AS (SELECT grp, pos, SUM(val) AS val FROM ex GROUP BY 1, 2)
SELECT CAST(grp AS BIGINT) AS grp, CAST(pos AS BIGINT) AS pos,
       CAST(ROUND(val, 6) AS DOUBLE) AS val
FROM agg ORDER BY grp, pos
"""

def _dp_vector_mean_public(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DP vector MEAN (private embedding centroids per group): noisy
    L2-clipped vector sum divided by a separately released noisy
    contribution count — the `Metrics.VECTOR_MEAN` engine path (net-new
    beyond the reference's VECTOR_SUM). Caps non-binding, clip binding,
    zero noise; output exploded to (grp, pos, val) rows."""
    emb = _t(spark, sf_dir, "embeddings")
    df = emb.select((F.col("vec_id") % 57).alias("uid"),
                    (F.col("vec_id") % 7).alias("grp"),
                    F.col("embedding"))
    query = (pds.QueryBuilder(df, "uid")
             .groupby("grp", max_groups_contributed=7,
                      max_contributions_per_group=1000,
                      public_keys=list(range(7)))
             .vector_mean("embedding", max_norm=1.0, vector_size=64,
                          norm_kind=pds.NormKind.L2, name="vm")
             .build_query())
    out = query.run_query(pds.Budget(1.0, 1e-6), noise_mode="zero")
    return out.select("grp", F.posexplode("vm").alias("pos", "val")) \
        .select(F.col("grp").cast("long").alias("grp"),
                F.col("pos").cast("long").alias("pos"),
                F.round(F.col("val"), 6).alias("val"))

_DP_VECTOR_MEAN_SQL = """
WITH v AS (
  SELECT vec_id % 7 AS grp, embedding::DOUBLE[] AS e FROM embeddings),
clipped AS (
  SELECT grp,
         CASE WHEN sqrt(list_dot_product(e, e)) > 1.0
              THEN list_transform(e, x -> x * (1.0 / sqrt(
                       list_dot_product(e, e))))
              ELSE e END AS e
  FROM v),
n AS (SELECT grp, CAST(COUNT(*) AS DOUBLE) AS cnt FROM clipped
      GROUP BY 1),
ex AS (
  SELECT grp, UNNEST(e) AS val,
         generate_subscripts(e, 1) - 1 AS pos
  FROM clipped),
agg AS (SELECT grp, pos, SUM(val) AS val FROM ex GROUP BY 1, 2)
SELECT CAST(agg.grp AS BIGINT) AS grp, CAST(pos AS BIGINT) AS pos,
       CAST(ROUND(val / GREATEST(cnt, 1.0), 6) AS DOUBLE) AS val
FROM agg JOIN n USING (grp) ORDER BY grp, pos
"""

def _dp_partition_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Private partition selection via Laplace thresholding, zero noise:
    keep order dates whose distinct-customer count clears the threshold."""
    orders = _t(spark, sf_dir, "orders")
    df = orders.withColumn("o_month", F.date_format("o_orderdate", "yyyy-MM"))
    query = (pds.QueryBuilder(df, "o_custkey")
             .groupby("o_month", max_groups_contributed=25,
                      max_contributions_per_group=1_000_000,
                      partition_selection_strategy=pds.
                      PartitionSelectionStrategy.LAPLACE_THRESHOLDING)
             .privacy_id_count()
             .build_query())
    return query.run_query(pds.Budget(30.0, 1e-4), noise_mode="zero")

def _laplace_threshold_for(eps: float, delta: float, l0: int) -> float:
    # Same closed form the engine uses; the oracle inlines the number.
    _, threshold = dpc.laplace_thresholding(eps, delta, l0)
    return threshold

def _dp_partition_selection_sql() -> str:
    threshold = _laplace_threshold_for(15.0, 1e-4, 25)
    return f"""
WITH per_user AS (
    SELECT DISTINCT o_custkey, strftime(o_orderdate, '%Y-%m') AS o_month
    FROM orders),
agg AS (
    SELECT o_month, COUNT(*) AS n FROM per_user GROUP BY o_month)
SELECT o_month, CAST(n AS DOUBLE) AS privacy_id_count
FROM agg WHERE n >= {threshold}
ORDER BY o_month
"""

def _dp_select_partitions_tg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """select_partitions with the TRUNCATED_GEOMETRIC mechanism, zero-noise
    mode: keep iff the optimal mechanism's keep-probability reaches 0.5."""
    orders = _t(spark, sf_dir, "orders")
    df = orders.withColumn("o_month", F.date_format("o_orderdate", "yyyy-MM"))
    acct = pds.NaiveBudgetAccountant(3.0, 1e-5)
    engine = pds.DPEngine(acct, noise_mode="zero")
    res = engine.select_partitions(
        df, pds.SelectPartitionsParams(max_partitions_contributed=25),
        pds.DataFrameExtractors("o_custkey", "o_month", None))
    acct.compute_budgets()
    return res.dataframe()

def _tg_cutoff(eps: float, delta: float, l0: int) -> int:
    import numpy as np
    probs = dpc.truncated_geometric_probabilities(eps, delta, l0)
    above = np.nonzero(probs >= 0.5)[0]
    return int(above[0]) if len(above) else len(probs)

def _dp_select_partitions_tg_sql() -> str:
    cutoff = _tg_cutoff(3.0, 1e-5, 25)
    return f"""
WITH per_user AS (
    SELECT DISTINCT o_custkey, strftime(o_orderdate, '%Y-%m') AS o_month
    FROM orders),
agg AS (SELECT o_month, COUNT(*) AS n FROM per_user GROUP BY 1)
SELECT o_month FROM agg WHERE n >= {cutoff} ORDER BY o_month
"""

def _dp_gaussian_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Private partition selection via GAUSSIAN thresholding (reference:
    pipeline_dp/partition_selection.py:51-90), zero noise: keep months
    whose distinct-customer count clears the Gaussian threshold (half the
    selection delta funds noise, half the threshold)."""
    orders = _t(spark, sf_dir, "orders")
    df = orders.withColumn("o_month", F.date_format("o_orderdate", "yyyy-MM"))
    query = (pds.QueryBuilder(df, "o_custkey")
             .groupby("o_month", max_groups_contributed=25,
                      max_contributions_per_group=1_000_000,
                      partition_selection_strategy=pds.
                      PartitionSelectionStrategy.GAUSSIAN_THRESHOLDING)
             .privacy_id_count()
             .build_query())
    return query.run_query(pds.Budget(30.0, 1e-4), noise_mode="zero")

def _dp_gaussian_threshold_sql() -> str:
    # Naive accountant: eps split across the 2 specs; the selection spec is
    # the only delta consumer and gets the full delta.
    _, threshold = dpc.gaussian_thresholding(15.0, 1e-4, 25)
    return f"""
WITH per_user AS (
    SELECT DISTINCT o_custkey, strftime(o_orderdate, '%Y-%m') AS o_month
    FROM orders),
agg AS (
    SELECT o_month, COUNT(*) AS n FROM per_user GROUP BY o_month)
SELECT o_month, CAST(n AS DOUBLE) AS privacy_id_count
FROM agg WHERE n >= {threshold!r}
ORDER BY o_month
"""

def _dp_select_weighted_gaussian(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """select_partitions via WEIGHTED Gaussian thresholding (reference:
    pipeline_dp/dp_engine.py:664-714, partition_selection.py:92-99), zero
    noise: each (customer, month) carries weight 1/sqrt(#months of the
    customer) so every customer has total L2 weight 1; keep months whose
    weight sum clears the threshold. L0 cap (25) is non-binding so the
    per-customer month counts are SQL-exact."""
    orders = _t(spark, sf_dir, "orders")
    df = orders.withColumn("o_month", F.date_format("o_orderdate", "yyyy-MM"))
    acct = pds.NaiveBudgetAccountant(3.0, 1e-5)
    engine = pds.DPEngine(acct, noise_mode="zero")
    res = engine.select_partitions(
        df,
        pds.SelectPartitionsParams(
            max_partitions_contributed=25,
            partition_selection_strategy=pds.PartitionSelectionStrategy.
            WEIGHTED_GAUSSIAN_THRESHOLDING),
        pds.DataFrameExtractors("o_custkey", "o_month", None))
    acct.compute_budgets()
    return res.dataframe()

def _dp_select_weighted_gaussian_sql() -> str:
    _, threshold = dpc.weighted_gaussian_thresholding(3.0, 1e-5, 25)
    return f"""
WITH per AS (
    SELECT DISTINCT o_custkey, strftime(o_orderdate, '%Y-%m') AS o_month
    FROM orders),
cnt AS (
    SELECT o_custkey, COUNT(*) AS np FROM per GROUP BY o_custkey),
w AS (
    SELECT per.o_month, SUM(1.0 / SQRT(cnt.np)) AS ws
    FROM per JOIN cnt USING (o_custkey)
    GROUP BY per.o_month)
SELECT o_month FROM w WHERE ws >= {threshold!r} ORDER BY o_month
"""

def _dp_post_agg_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation thresholding: the noised privacy-id count doubles as
    the partition-selection signal (no separate selection budget); zero
    noise keeps months whose exact count clears the threshold."""
    orders = _t(spark, sf_dir, "orders")
    df = orders.withColumn("o_month", F.date_format("o_orderdate", "yyyy-MM"))
    acct = pds.NaiveBudgetAccountant(20.0, 1e-4)
    engine = pds.DPEngine(acct, noise_mode="zero")
    params = pds.AggregateParams(
        metrics=[pds.Metrics.PRIVACY_ID_COUNT],
        max_partitions_contributed=25,
        max_contributions_per_partition=1,
        post_aggregation_thresholding=True)
    res = engine.aggregate(df, params,
                           pds.DataFrameExtractors("o_custkey", "o_month",
                                                   None))
    acct.compute_budgets()
    return res.dataframe()

def _post_agg_threshold(eps: float, delta: float, l0: int) -> float:
    # The engine's threshold for a Laplace privacy-id count spec at
    # (eps, delta): half of delta funds the threshold.
    std = dpc.noise_std(pds.NoiseKind.LAPLACE, eps, delta / 2,
                        dpc.privacy_id_count_sensitivities(l0))
    return dpc.thresholding_from_std(pds.NoiseKind.LAPLACE, std, delta / 2,
                                     l0)

def _post_agg_threshold_sql() -> str:
    # Full budget on the one privacy-id count spec.
    threshold = _post_agg_threshold(20.0, 1e-4, 25)
    return f"""
WITH per_user AS (
    SELECT DISTINCT o_custkey, strftime(o_orderdate, '%Y-%m') AS o_month
    FROM orders),
agg AS (SELECT o_month, COUNT(*) AS n FROM per_user GROUP BY 1)
SELECT o_month, CAST(n AS DOUBLE) AS privacy_id_count
FROM agg WHERE n >= {threshold}
ORDER BY o_month
"""

def _dp_count_max_contributions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1-style bounding (max_contributions caps a user's TOTAL rows across
    all partitions); cap set non-binding so the oracle is exact; zero
    noise."""
    orders = _t(spark, sf_dir, "orders")
    pub = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    acct = pds.NaiveBudgetAccountant(1.0, 1e-6)
    engine = pds.DPEngine(acct, noise_mode="zero")
    params = pds.AggregateParams(
        metrics=[pds.Metrics.COUNT, pds.Metrics.PRIVACY_ID_COUNT],
        max_contributions=100_000)
    res = engine.aggregate(df=orders, params=params,
                           extractors=pds.DataFrameExtractors(
                               "o_custkey", "o_orderpriority", None),
                           public_partitions=pub)
    acct.compute_budgets()
    return res.dataframe()

_DP_MAX_CONTRIB_SQL = """
WITH pub(o_orderpriority) AS (
    VALUES ('1-URGENT'), ('2-HIGH'), ('3-MEDIUM'), ('4-NOT SPECIFIED'),
           ('5-LOW')),
agg AS (
    SELECT o_orderpriority,
           CAST(COUNT(*) AS DOUBLE) AS count,
           CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) AS privacy_id_count
    FROM orders GROUP BY 1)
SELECT pub.o_orderpriority,
       COALESCE(agg.count, 0.0) AS count,
       COALESCE(agg.privacy_id_count, 0.0) AS privacy_id_count
FROM pub LEFT JOIN agg USING (o_orderpriority)
ORDER BY 1
"""

def _dp_count_no_cross_bounding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """perform_cross_partition_contribution_bounding=False: L0 = 2 would be
    BINDING (customers span up to 5 priorities) but the L0 sampling step is
    skipped, so the zero-noise output is the exact Linf-capped count —
    deterministic precisely because cross-partition sampling is off. L0
    stays in the sensitivity, pinned by the output_noise_stddev column
    (= (l0*linf/eps)*sqrt(2) for Laplace)."""
    orders = _t(spark, sf_dir, "orders")
    pub = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    acct = pds.NaiveBudgetAccountant(1.0, 1e-6)
    engine = pds.DPEngine(acct, noise_mode="zero")
    params = pds.AggregateParams(
        metrics=[pds.Metrics.COUNT],
        max_partitions_contributed=2,
        max_contributions_per_partition=3,
        perform_cross_partition_contribution_bounding=False,
        output_noise_stddev=True)
    res = engine.aggregate(df=orders, params=params,
                           extractors=pds.DataFrameExtractors(
                               "o_custkey", "o_orderpriority", None),
                           public_partitions=pub)
    acct.compute_budgets()
    return res.dataframe()

_DP_NO_CROSS_BOUNDING_SQL = """
WITH pub(o_orderpriority) AS (
    VALUES ('1-URGENT'), ('2-HIGH'), ('3-MEDIUM'), ('4-NOT SPECIFIED'),
           ('5-LOW')),
per_user AS (
    SELECT o_custkey, o_orderpriority,
           LEAST(COUNT(*), 3) AS capped_cnt
    FROM orders GROUP BY o_custkey, o_orderpriority),
agg AS (
    SELECT o_orderpriority,
           CAST(SUM(capped_cnt) AS DOUBLE) AS count
    FROM per_user GROUP BY o_orderpriority)
SELECT pub.o_orderpriority,
       COALESCE(agg.count, 0.0) AS count,
       (6.0 / 1.0) * SQRT(2.0) AS count_noise_stddev
FROM pub LEFT JOIN agg USING (o_orderpriority)
ORDER BY o_orderpriority
"""

def _dp_count_composite_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite (2-column) partition key with private Laplace-thresholding
    selection; zero noise."""
    orders = _t(spark, sf_dir, "orders")
    query = (pds.QueryBuilder(orders, "o_custkey")
             .groupby(["o_orderpriority", "o_orderstatus"],
                      max_groups_contributed=15,
                      max_contributions_per_group=1_000_000,
                      partition_selection_strategy=pds.
                      PartitionSelectionStrategy.LAPLACE_THRESHOLDING)
             .privacy_id_count()
             .build_query())
    return query.run_query(pds.Budget(30.0, 1e-4), noise_mode="zero")

def _dp_count_composite_key_sql() -> str:
    _, threshold = dpc.laplace_thresholding(15.0, 1e-4, 15)
    return f"""
WITH per_user AS (
    SELECT DISTINCT o_custkey, o_orderpriority, o_orderstatus FROM orders),
agg AS (
    SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
    FROM per_user GROUP BY 1, 2)
SELECT o_orderpriority, o_orderstatus, CAST(n AS DOUBLE) AS privacy_id_count
FROM agg WHERE n >= {threshold}
ORDER BY 1, 2
"""

def _dp_private_l0_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DP choice of max_partitions_contributed via the exponential
    mechanism (`DPEngine.calculate_private_contribution_bounds`,
    reference pipeline_dp/private_contribution_bounds.py:27-195) in
    zero-noise mode, where the mechanism degenerates to the score
    argmax: score(k) = -(0.5 * P * laplace_std(k) + 0.5 *
    sum_bins max(min(bin_lower, B) - k, 0) * count) over candidates
    1..B, B = min(150, P); pid = user_id, pk = (event_type, day).
    The oracle replays the L0 histogram (3-significant-digit log
    binning), the candidate scores, and the argmax in SQL. Output:
    the chosen bound plus the inputs that determine it."""
    ev = _t(spark, sf_dir, "events")
    day_us = 86_400_000_000
    ev = ev.withColumn(
        "day", F.floor(F.col("ts") / F.lit(day_us)).cast("long"))
    acct = pds.NaiveBudgetAccountant(1.0, 1e-6)
    engine = pds.DPEngine(acct, noise_mode="zero")
    params = pds.CalculatePrivateContributionBoundsParams(
        aggregation_noise_kind=pds.NoiseKind.LAPLACE,
        aggregation_eps=1.0, aggregation_delta=0.0,
        calculation_eps=1.0,
        max_partitions_contributed_upper_bound=150)
    bounds = engine.calculate_private_contribution_bounds(
        ev, params, pds.DataFrameExtractors("user_id",
                                            ["event_type", "day"]))
    n_partitions = ev.select("event_type", "day").distinct().count()
    return spark.sql(
        f"SELECT CAST({bounds.max_partitions_contributed} AS BIGINT)"
        f"       AS max_partitions_contributed,"
        f"       CAST({n_partitions} AS BIGINT) AS n_partitions")

_DP_PRIVATE_L0_BOUNDS_SQL = """
WITH ev AS (
    SELECT user_id, event_type,
           CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day
    FROM events),
l0 AS (
    SELECT user_id,
           COUNT(DISTINCT event_type || '|' || CAST(day AS VARCHAR))
               AS n
    FROM ev GROUP BY user_id),
binned AS (
    SELECT CAST(FLOOR(n / POW(10, GREATEST(FLOOR(LOG10(n)) - 2, 0)))
                * POW(10, GREATEST(FLOOR(LOG10(n)) - 2, 0)) AS BIGINT)
               AS lower,
           COUNT(*) AS cnt
    FROM l0 GROUP BY 1),
np AS (
    SELECT COUNT(DISTINCT event_type || '|' || CAST(day AS VARCHAR))
               AS p
    FROM ev),
cands AS (
    SELECT UNNEST(range(1, LEAST(150, p) + 1)) AS k FROM np),
scores AS (
    SELECT c.k,
           -(0.5 * np.p * sqrt(2) * c.k / 1.0
             + 0.5 * (SELECT COALESCE(SUM(GREATEST(
                          LEAST(b.lower, LEAST(150, np.p)) - c.k, 0)
                          * b.cnt), 0)
                      FROM binned b)) AS score
    FROM cands c, np)
SELECT (SELECT k FROM scores ORDER BY score DESC, k ASC LIMIT 1)
           AS max_partitions_contributed,
       (SELECT p FROM np) AS n_partitions
"""

def _dp_windowed_count_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DP count of events per (event_type, tumbling 1-day event-time
    window) with private Laplace-thresholding partition selection — the
    batch mirror of the Structured Streaming DP aggregation (same window
    semantics, same bounding). Linf cap = 5 binding; L0 = 100 non-binding;
    zero noise. `ts` is micros-since-epoch (normalized by `_t`)."""
    ev = _t(spark, sf_dir, "events")
    day_us = 86_400_000_000
    ev = ev.withColumn(
        "day", F.floor(F.col("ts") / F.lit(day_us)).cast("long"))
    query = (pds.QueryBuilder(ev, "user_id")
             .groupby(["event_type", "day"], max_groups_contributed=100,
                      max_contributions_per_group=5,
                      partition_selection_strategy=pds.
                      PartitionSelectionStrategy.LAPLACE_THRESHOLDING)
             .count()
             .build_query())
    return query.run_query(pds.Budget(60.0, 1e-4), noise_mode="zero")

def _dp_windowed_count_events_sql() -> str:
    threshold = _laplace_threshold_for(30.0, 1e-4, 100)
    return f"""
WITH ev AS (
    SELECT user_id, event_type,
           CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day
    FROM events),
per_user AS (
    SELECT user_id, event_type, day, LEAST(COUNT(*), 5) AS capped
    FROM ev GROUP BY 1, 2, 3),
agg AS (
    SELECT event_type, day,
           CAST(SUM(capped) AS DOUBLE) AS count,
           COUNT(*) AS n_users
    FROM per_user GROUP BY 1, 2)
SELECT event_type, day, count
FROM agg WHERE n_users >= {threshold}
ORDER BY 1, 2
"""

def _dp_session_count_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch mirror of streaming.dp_streaming_session_count: DP count of
    closed user sessions (30-min gap) per tumbling day, sessions
    attributed to the day containing their END (last event + gap,
    exclusive boundary — the chained-window assignment Structured
    Streaming implements), per-user cap 3 sessions/day, Laplace
    window selection on the user count, zero noise. The capped
    per-(user, day) partials are released through the engine stage the
    streaming operator releases through."""
    from pipelinedp_spark.dp_engine import PARTIAL_COUNT
    from pipelinedp_spark.operators.sessions import sessionize
    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    gap_us = 1800 * 10**6
    day_us = 86_400_000_000
    s = sessionize(ev, "ts", "user_id", gap_us)
    sess = (s.groupBy("user_id", "session_id")
            .agg((F.max("ts") + F.lit(gap_us)).alias("end_us")))
    sess = sess.withColumn(
        "day", F.floor((F.col("end_us") - 1) / F.lit(day_us)).cast("long"))
    per_user = (sess.groupBy("user_id", "day")
                .agg(F.least(F.count(F.lit(1)), F.lit(3))
                     .alias(PARTIAL_COUNT)))
    acct = pds.NaiveBudgetAccountant(60.0, 1e-4)
    res = pds.DPEngine(acct, noise_mode="zero").aggregate_partials(
        per_user, pds.AggregateParams(
            metrics=[pds.Metrics.COUNT, pds.Metrics.PRIVACY_ID_COUNT],
            max_partitions_contributed=100,
            max_contributions_per_partition=3,
            post_aggregation_thresholding=True), ["day"])
    acct.compute_budgets()
    return res.dataframe().withColumnRenamed("count", "session_count")

def _dp_session_count_events_sql() -> str:
    # The privacy-id count spec gets eps/2 and, under Laplace noise, all
    # of delta.
    threshold = _post_agg_threshold(30.0, 1e-4, 100)
    return f"""
WITH x AS (SELECT user_id, epoch_us(ts) AS t FROM events),
d AS (
  SELECT user_id, t,
         CASE WHEN t - LAG(t) OVER (PARTITION BY user_id ORDER BY t)
                   > 1800000000 THEN 1 ELSE 0 END AS brk
  FROM x),
s AS (
  SELECT user_id, t,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY t
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM d),
sess AS (
  SELECT user_id, sid, MAX(t) + 1800000000 AS end_us
  FROM s GROUP BY user_id, sid),
sd AS (
  SELECT user_id,
         CAST(FLOOR((end_us - 1) / 86400000000) AS BIGINT) AS day
  FROM sess),
pu AS (
  SELECT user_id, day, LEAST(COUNT(*), 3) AS capped
  FROM sd GROUP BY user_id, day),
agg AS (
  SELECT day, CAST(SUM(capped) AS DOUBLE) AS session_count,
         COUNT(*) AS n
  FROM pu GROUP BY day)
SELECT day, session_count, CAST(n AS DOUBLE) AS privacy_id_count
FROM agg WHERE n >= {threshold!r}
ORDER BY day
"""

def _doc_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data prep over documents: quality + language
    filter -> exact-dup removal (keep lowest doc_id per fingerprint,
    carry dup_count) -> token-budget cut via a distributed two-pass
    prefix sum (`operators.running.running_sum`), keeping docs in doc_id
    order while the cumulative BPE-token count stays within budget."""
    from pipelinedp_spark.functions import text as TX
    from pipelinedp_spark.operators.running import running_sum
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    scored = docs.select(
        "doc_id",
        TX.bpe_token_count(t).cast("long").alias("n_bpe_tokens"),
        TX.quality_score(t).alias("quality"),
        TX.language_id(t).alias("lang_pred"),
        TX.rolling_fingerprint(t).alias("fingerprint"))
    filtered = scored.filter((F.col("quality") >= 0.3)
                             & (F.col("lang_pred") == "en"))
    # Keep-lowest-per-fingerprint as ONE hash aggregation (min_by struct +
    # count): map-side combinable, no window sort.
    kept = (filtered.groupBy("fingerprint")
            .agg(F.min_by(F.struct("doc_id", "n_bpe_tokens", "quality"),
                          F.col("doc_id")).alias("_s"),
                 F.count(F.lit(1)).alias("dup_count"))
            .select("_s.*", "dup_count"))
    budgeted = running_sum(kept, "doc_id", "n_bpe_tokens",
                           out_col="cum_tokens")
    return (budgeted.filter(F.col("cum_tokens") <= 5000)
            .select("doc_id", "n_bpe_tokens", "quality", "dup_count",
                    "cum_tokens"))

_DOC_PREP_PIPELINE_SQL = """
WITH tok AS (
  SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
scored AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
             AS n_bpe_tokens,
         ROUND((CASE WHEN len(t) < 50 THEN len(t) / 50.0
                     WHEN len(t) > 10000 THEN 10000.0 / len(t)
                     ELSE 1.0 END)
               * (len(list_distinct(t)) / GREATEST(len(t), 1)), 6)
             AS quality,
         CASE
           WHEN len(list_intersect(list_distinct(string_split(lower(text), ' ')),
                ['the','a','and','of','to','in','is','it'])) >=
                GREATEST(
                  len(list_intersect(list_distinct(string_split(lower(text), ' ')),
                      ['the','a','and','of','to','in','is','it'])),
                  len(list_intersect(list_distinct(string_split(lower(text), ' ')),
                      ['el','la','de','que','y','los','un','por'])),
                  len(list_intersect(list_distinct(string_split(lower(text), ' ')),
                      ['der','die','und','das','ist','ein','nicht'])),
                  len(list_intersect(list_distinct(string_split(lower(text), ' ')),
                      ['le','la','et','les','des','un','est','pas'])), 1)
           THEN 'en' ELSE 'other'
         END AS lang_pred,
         md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g'))
             AS fingerprint
  FROM tok),
filtered AS (
  SELECT * FROM scored WHERE quality >= 0.3 AND lang_pred = 'en'),
kept AS (
  SELECT doc_id, n_bpe_tokens, quality,
         COUNT(*) OVER (PARTITION BY fingerprint) AS dup_count,
         ROW_NUMBER() OVER (PARTITION BY fingerprint
                            ORDER BY doc_id) AS rn
  FROM filtered),
budgeted AS (
  SELECT doc_id, n_bpe_tokens, quality, dup_count,
         SUM(n_bpe_tokens) OVER (ORDER BY doc_id) AS cum_tokens
  FROM kept WHERE rn = 1)
SELECT doc_id, n_bpe_tokens, quality, CAST(dup_count AS BIGINT) AS dup_count,
       CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM budgeted WHERE cum_tokens <= 5000
"""

def _asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every purchase event, the user's most recent prior-or-equal
    click (as-of backward join per user). `ts` is micros-since-epoch longs
    on the Spark side; the oracle compares via epoch_us."""
    from pipelinedp_spark.operators.asof import asof_join
    ev = _t(spark, sf_dir, "events")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("event_id", "user_id", "ts", "value"))
    clicks = (ev.filter(F.col("event_type") == "click")
              .select("user_id", "ts", "value"))
    out = asof_join(purchases, clicks, time_col="ts", by="user_id")
    return out.select(
        "event_id", "user_id",
        F.col("ts").alias("ts_us"),
        F.col("ts_right").alias("ts_right_us"),
        F.col("value_right").alias("last_click_value"))

_ASOF_JOIN_EVENTS_SQL = """
SELECT p.event_id, p.user_id,
       epoch_us(p.ts) AS ts_us,
       epoch_us(c.ts) AS ts_right_us,
       c.value AS last_click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""

def _asof_join_tolerance_events(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """As-of backward join with a 6-hour tolerance (pandas merge_asof
    semantics): clicks older than the tolerance null out instead of
    matching — the staleness guard real feature-lookup pipelines need.
    Same plan as asof_join_events plus one column projection."""
    from pipelinedp_spark.operators.asof import asof_join
    tol_us = 6 * 3600 * 10**6
    ev = _t(spark, sf_dir, "events")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("event_id", "user_id", "ts", "value"))
    clicks = (ev.filter(F.col("event_type") == "click")
              .select("user_id", "ts", "value"))
    out = asof_join(purchases, clicks, time_col="ts", by="user_id",
                    tolerance=tol_us)
    return out.select(
        "event_id", "user_id",
        F.col("ts").alias("ts_us"),
        F.col("ts_right").alias("ts_right_us"),
        F.col("value_right").alias("last_click_value"))

_ASOF_TOLERANCE_SQL = """
SELECT p.event_id, p.user_id,
       epoch_us(p.ts) AS ts_us,
       CASE WHEN epoch_us(p.ts) - epoch_us(c.ts) <= 21600000000
            THEN epoch_us(c.ts) END AS ts_right_us,
       CASE WHEN epoch_us(p.ts) - epoch_us(c.ts) <= 21600000000
            THEN c.value END AS last_click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""

def _multimodal_mp4_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-container path: deterministic MP4/ISO-BMFF boxes per
    doc (hand-packed ftyp + moov/mvhd/trak, alternating mvhd version
    0/1) -> opaque binary column -> real box-walk parse
    (operators.multimodal.parse_mp4_metadata). The oracle recomputes
    duration_us straight from the generating arithmetic, so a box-size,
    version-offset, or timescale bug in the walker breaks the match."""
    import struct as st
    import pandas as pd
    from pipelinedp_spark.operators import multimodal as MM

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def box(btype, payload):
        return st.pack(">I", 8 + len(payload)) + btype + payload

    def gen(it):
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            payloads = []
            for d in ids:
                timescale = 1000 + (d % 7) * 100
                duration = (d % 1000 + 1) * timescale
                n_tracks = 1 + d % 3
                ftyp = box(b"ftyp", b"isom" + st.pack(">I", 0))
                if d % 2 == 0:
                    mvhd = box(b"mvhd", bytes([0, 0, 0, 0]) + bytes(8)
                               + st.pack(">II", timescale, duration)
                               + bytes(80))
                else:
                    mvhd = box(b"mvhd", bytes([1, 0, 0, 0]) + bytes(16)
                               + st.pack(">I", timescale)
                               + st.pack(">Q", duration) + bytes(80))
                traks = b"".join(box(b"trak", bytes(16))
                                 for _ in range(n_tracks))
                payloads.append(ftyp + box(b"moov", mvhd + traks))
            yield pd.DataFrame({"doc_id": ids, "video": payloads})

    vids = docs.mapInPandas(gen, "doc_id long, video binary")
    out = MM.extract_video_metadata(vids, "video")
    return out.select("doc_id", F.col("meta.brand").alias("brand"),
                      F.col("meta.duration_us").alias("duration_us"),
                      F.col("meta.n_tracks").alias("n_tracks"))

_MULTIMODAL_MP4_SQL = """
SELECT doc_id,
       'isom' AS brand,
       CAST((doc_id % 1000 + 1) * (1000 + (doc_id % 7) * 100)
            * 1000000 // (1000 + (doc_id % 7) * 100) AS BIGINT)
           AS duration_us,
       CAST(1 + doc_id % 3 AS INT) AS n_tracks
FROM documents ORDER BY doc_id
"""

_RJ_BASE_US = 1_704_067_200 * 10**6      # 2024-01-01 UTC in micros

_RJ_STEP_US = 36 * 3600 * 10**6          # interval spacing: 36h

_RJ_LEN_US = 90 * 3600 * 10**6           # interval length: 90h (overlap)

def _range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunked range join: each event matched to every (overlapping)
    90-hour maintenance window derived from the nation table. The chunk
    width equals the window spacing, so the nested-loop non-equi join
    becomes a hash equi-join on the chunk id."""
    from pipelinedp_spark.operators.ranges import range_join
    ev = _t(spark, sf_dir, "events").select("event_id", "ts")
    iv = (_t(spark, sf_dir, "nation")
          .select("n_nationkey")
          .withColumn("w_start", (F.lit(_RJ_BASE_US)
                                  + F.col("n_nationkey") * _RJ_STEP_US)
                      .cast("long"))
          .withColumn("w_end", (F.col("w_start") + _RJ_LEN_US)
                      .cast("long")))
    out = range_join(ev, "ts", iv, "w_start", "w_end",
                     chunk=_RJ_STEP_US)
    return out.select("event_id", "n_nationkey")

_RANGE_JOIN_EVENTS_SQL = f"""
SELECT e.event_id, n.n_nationkey
FROM events e
JOIN nation n
  ON epoch_us(e.ts) BETWEEN {_RJ_BASE_US} + n.n_nationkey * {_RJ_STEP_US}
                        AND {_RJ_BASE_US} + n.n_nationkey * {_RJ_STEP_US}
                            + {_RJ_LEN_US}
"""

def _range_join_keyed_events(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Keyed range join: each event matched only to ITS nation's
    maintenance window (equality on the derived key composes into the
    chunked equi-join's hash key, so selectivity improves — no post-join
    filter needed for the key)."""
    from pipelinedp_spark.operators.ranges import range_join
    ev = (_t(spark, sf_dir, "events")
          .select("event_id", "ts",
                  (F.col("event_id") % 25).alias("k")))
    iv = (_t(spark, sf_dir, "nation")
          .select(F.col("n_nationkey").alias("k"), "n_nationkey")
          .withColumn("w_start", (F.lit(_RJ_BASE_US)
                                  + F.col("n_nationkey") * _RJ_STEP_US)
                      .cast("long"))
          .withColumn("w_end", (F.col("w_start") + _RJ_LEN_US)
                      .cast("long")))
    out = range_join(ev, "ts", iv, "w_start", "w_end",
                     chunk=_RJ_STEP_US, key="k")
    return out.select("event_id", "n_nationkey")

_RANGE_JOIN_KEYED_SQL = f"""
SELECT e.event_id, n.n_nationkey
FROM events e
JOIN nation n
  ON e.event_id % 25 = n.n_nationkey
 AND epoch_us(e.ts) BETWEEN {_RJ_BASE_US} + n.n_nationkey * {_RJ_STEP_US}
                        AND {_RJ_BASE_US} + n.n_nationkey * {_RJ_STEP_US}
                            + {_RJ_LEN_US}
"""

def _dedup_cross_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingestion dedup: treating docs with doc_id % 3 == 0
    as the already-ingested reference corpus, keep only NEW docs whose
    normalized-text fingerprint is absent from it. Reference side
    reduces to distinct fingerprints before the anti-join."""
    from pipelinedp_spark.operators.dedup import cross_corpus_dedup
    docs = _t(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 3 == 0)
    new = docs.filter(F.col("doc_id") % 3 != 0)
    return cross_corpus_dedup(new, ref).select("doc_id", "fingerprint")

_DEDUP_CROSS_CORPUS_SQL = """
WITH fp AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g'))
             AS fingerprint
  FROM documents)
SELECT doc_id, fingerprint
FROM fp
WHERE doc_id % 3 <> 0
  AND fingerprint NOT IN (SELECT fingerprint FROM fp WHERE doc_id % 3 = 0)
ORDER BY doc_id
"""

def _stream_exact_store_mirror(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Batch mirror of `stream_into('exact', ...)` with
    exact two-trigger-PLUS-REPLAY semantics, driving the REAL
    foreachBatch body (`store.ingest_batch_once`): the store
    starts EMPTY; trigger 0 ingests docs with doc_id % 3 == 0
    (within-batch first occurrence per fingerprint, anti-join the
    empty store, fingerprints appended); trigger 1 ingests the rest,
    deduped against trigger 0's accumulated store; then trigger 1
    REPLAYS (at-least-once delivery) and must be fully suppressed by
    the ingest-log guard — a leak would append its sink output twice
    and break the oracle equality. Output = survivors per trigger
    tagged by batch — proving the cross-batch store contract AND
    exactly-once, not just final state."""
    from pipelinedp_spark import store
    from pipelinedp_spark.operators import dedup
    docs = _t(spark, sf_dir, "documents")
    dedup.build_exact_store(docs.limit(0), "stream_exact_r9",
                            num_buckets=4)
    outs: list = []
    batches = [docs.filter(F.col("doc_id") % 3 == 0),
               docs.filter(F.col("doc_id") % 3 != 0)]
    for b, batch in enumerate(batches):
        applied = store.ingest_batch_once(
            "exact", batch, "stream_exact_r9", b,
            sink=lambda surv, b=b: outs.append(surv.select(
                F.lit(b).cast("long").alias("batch"), "doc_id",
                "fingerprint")))
        if not applied:
            raise AssertionError("fresh batch wrongly skipped")
    replayed = store.ingest_batch_once(
        "exact", batches[1], "stream_exact_r9", 1,
        sink=lambda surv: outs.append(surv))
    if replayed or len(outs) != 2:
        raise AssertionError("exact-store ingest-log guard broke")
    result = outs[0].unionByName(outs[1]).localCheckpoint()
    for t in ("stream_exact_r9_fps", "stream_exact_r9_meta",
              "stream_exact_r9_ingest_log"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    return result

_STREAM_EXACT_STORE_MIRROR_SQL = """
WITH fp AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g'))
             AS fingerprint
  FROM documents),
b0 AS (
  SELECT fingerprint, MIN(doc_id) AS doc_id
  FROM fp WHERE doc_id % 3 = 0 GROUP BY fingerprint),
b1 AS (
  SELECT fingerprint, MIN(doc_id) AS doc_id
  FROM fp WHERE doc_id % 3 <> 0 GROUP BY fingerprint)
SELECT CAST(0 AS BIGINT) AS batch, doc_id, fingerprint FROM b0
UNION ALL
SELECT CAST(1 AS BIGINT) AS batch, doc_id, fingerprint
FROM b1 WHERE fingerprint NOT IN (SELECT fingerprint FROM b0)
"""

def _stream_near_dup_store_mirror(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Batch mirror of `stream_into('minhash', ...)` with exact
    two-trigger semantics (store starts EMPTY; trigger 0 = docs with
    doc_id % 3 == 0, trigger 1 = the rest): within each trigger,
    MinHash+LSH near-dups (k=3, Jaccard >= 0.7) lose to the smaller
    id; survivors anti-match the accumulated store and append their
    fingerprints. Output = surviving (batch, doc_id). The oracle
    replays bands, both within-trigger pair sets, and the cross-trigger
    store match in SQL. Drives the REAL foreachBatch body
    (`store.ingest_batch_once`), then REPLAYS trigger 1 — the
    ingest-log guard must suppress it or the sink doubles and the
    oracle equality breaks."""
    from pipelinedp_spark import store
    from pipelinedp_spark.operators import dedup
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dedup.build_minhash_store(docs.limit(0), "stream_nd_r9",
                              num_buckets=4)
    outs: list = []
    batches = [docs.filter(F.col("doc_id") % 3 == 0),
               docs.filter(F.col("doc_id") % 3 != 0)]
    for b, batch in enumerate(batches):
        applied = store.ingest_batch_once(
            "minhash", batch, "stream_nd_r9", b, jaccard_threshold=0.7,
            sink=lambda surv, b=b: outs.append(surv.select(
                F.lit(b).cast("long").alias("batch"), "doc_id")))
        if not applied:
            raise AssertionError("fresh batch wrongly skipped")
    replayed = store.ingest_batch_once(
        "minhash", batches[1], "stream_nd_r9", 1, jaccard_threshold=0.7,
        sink=lambda surv: outs.append(surv))
    if replayed or len(outs) != 2:
        raise AssertionError("near-dup-store ingest-log guard broke")
    result = outs[0].unionByName(outs[1]).localCheckpoint()
    for t in ("stream_nd_r9_bands", "stream_nd_r9_shingles",
              "stream_nd_r9_meta", "stream_nd_r9_ingest_log"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    return result

_STREAM_ND_STORE_MIRROR_SQL = """
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (SELECT doc_id,
              CASE WHEN len(t) >= 3
                   THEN list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                       for i in range(1, len(t) - 1)])
                   ELSE [array_to_string(t, ' ')] END AS shingles
       FROM tok),
hm AS (
  SELECT doc_id, shingles,
         [('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647
          for s in shingles] AS hs
  FROM sh),
sig AS (
  SELECT doc_id, shingles,
         [list_min([(((1103515245 * (i + 1) + 12345) % 2147483647) * h
                     + ((2654435761 * i + 97) % 2147483647)) % 2147483647
                    for h in hs])
          for i in range(0, 8)] AS sig
  FROM hm),
bands AS (
  SELECT doc_id,
         UNNEST(range(0, 2)) AS band_idx,
         UNNEST([md5(CAST(sig[1] AS VARCHAR) || '|' || CAST(sig[2] AS VARCHAR)
                     || '|' || CAST(sig[3] AS VARCHAR) || '|'
                     || CAST(sig[4] AS VARCHAR)),
                 md5(CAST(sig[5] AS VARCHAR) || '|' || CAST(sig[6] AS VARCHAR)
                     || '|' || CAST(sig[7] AS VARCHAR) || '|'
                     || CAST(sig[8] AS VARCHAR))])
             AS band_hash
  FROM sig),
cand_pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
  WHERE a.doc_id < b.doc_id),
jac AS (
  SELECT p.id_a, p.id_b,
         ROUND(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE /
               (len(sa.shingles) + len(sb.shingles)
                - len(list_intersect(sa.shingles, sb.shingles))), 6)
             AS j
  FROM cand_pairs p
  JOIN sh sa ON sa.doc_id = p.id_a
  JOIN sh sb ON sb.doc_id = p.id_b),
losers0 AS (
  SELECT DISTINCT id_b FROM jac
  WHERE j >= 0.7 AND id_a % 3 = 0 AND id_b % 3 = 0),
surv0 AS (
  SELECT doc_id FROM documents
  WHERE doc_id % 3 = 0 AND doc_id NOT IN (SELECT id_b FROM losers0)),
losers1 AS (
  SELECT DISTINCT id_b FROM jac
  WHERE j >= 0.7 AND id_a % 3 <> 0 AND id_b % 3 <> 0),
within1 AS (
  SELECT doc_id FROM documents
  WHERE doc_id % 3 <> 0 AND doc_id NOT IN (SELECT id_b FROM losers1)),
crossdrop AS (
  SELECT DISTINCT w.doc_id
  FROM within1 w
  JOIN jac ON (jac.id_a = w.doc_id AND jac.id_b IN
               (SELECT doc_id FROM surv0))
           OR (jac.id_b = w.doc_id AND jac.id_a IN
               (SELECT doc_id FROM surv0))
  WHERE jac.j >= 0.7)
SELECT CAST(0 AS BIGINT) AS batch, doc_id FROM surv0
UNION ALL
SELECT CAST(1 AS BIGINT) AS batch, doc_id FROM within1
WHERE doc_id NOT IN (SELECT doc_id FROM crossdrop)
"""

def _dedup_exact_incremental(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Exact dedup against a PERSISTED fingerprint store
    (`dedup.build_exact_store` + `incremental_exact_dedup`): docs with
    doc_id % 5 == 0 are indexed once as a bucketed distinct-fingerprint
    table; the remaining docs anti-join it with zero store-side
    shuffle. Residue 5 distinguishes the result from
    `dedup_cross_corpus`'s residue-3 split; store dropped after
    checkpointing."""
    from pipelinedp_spark.operators import dedup
    docs = _t(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 5 == 0)
    new = docs.filter(F.col("doc_id") % 5 != 0)
    dedup.build_exact_store(ref, "exact_store_r9")
    out = (dedup.incremental_exact_dedup(new, "exact_store_r9")
           .select("doc_id", "fingerprint").localCheckpoint())
    for t in ("exact_store_r9_fps", "exact_store_r9_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    return out

_DEDUP_EXACT_INCR_SQL = """
WITH fp AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g'))
             AS fingerprint
  FROM documents)
SELECT doc_id, fingerprint
FROM fp
WHERE doc_id % 5 <> 0
  AND fingerprint NOT IN (SELECT fingerprint FROM fp WHERE doc_id % 5 = 0)
ORDER BY doc_id
"""

def _sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions per user (1-hour gap): event count and duration
    per session — the batch mirror of the streaming session windows."""
    from pipelinedp_spark.operators.sessions import session_stats
    ev = (_t(spark, sf_dir, "events")
          .select("user_id", F.col("ts").alias("t_us")))
    gap_us = 3600 * 10**6
    out = session_stats(ev, "t_us", "user_id", gap_us)
    return out.select("user_id", "session_id", "n_events",
                      F.col("dur").alias("dur_us"))

_SESSIONIZE_EVENTS_SQL = """
WITH x AS (SELECT user_id, epoch_us(ts) AS t FROM events),
d AS (
  SELECT user_id, t,
         CASE WHEN t - LAG(t) OVER (PARTITION BY user_id ORDER BY t)
                   > 3600000000 THEN 1 ELSE 0 END AS brk
  FROM x),
s AS (
  SELECT user_id, t,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY t
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM d)
SELECT user_id, CAST(sid AS BIGINT) AS session_id, COUNT(*) AS n_events,
       (MAX(t) - MIN(t)) AS dur_us
FROM s GROUP BY user_id, sid
"""

def _token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary stats: top-50 tokens by document frequency
    (ties broken by token). Explode distinct tokens -> one map-side
    combinable groupBy -> partial+final window top-k."""
    from pyspark.sql import Window
    from pipelinedp_spark.functions import text as TX
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.array_distinct(TX.tokens(F.col("text"))))
        .alias("token"))
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("doc_freq"))
    w = Window.orderBy(F.col("doc_freq").desc(), F.col("token").asc())
    return (counts.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= 50))

_TOKEN_TOPK_SQL = """
WITH tok AS (
  SELECT unnest(list_distinct(string_split(text, ' '))) AS token
  FROM documents),
counts AS (
  SELECT token, COUNT(*) AS doc_freq FROM tok GROUP BY token),
ranked AS (
  SELECT token, doc_freq,
         ROW_NUMBER() OVER (ORDER BY doc_freq DESC, token ASC) AS rank
  FROM counts)
SELECT token, doc_freq, rank FROM ranked WHERE rank <= 50
"""

def _doc_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split of documents keyed on
    md5(salt:doc_id) — reproducible across runs and engines, no RNG."""
    from pipelinedp_spark.functions.sampling import deterministic_split
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return deterministic_split(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})

_DOC_SPLIT_SQL = """
WITH u AS (
  SELECT doc_id,
         ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))
             ::BIGINT / 1152921504606846976.0 AS v
  FROM documents)
SELECT doc_id,
       CASE WHEN v < 0.8 THEN 'train'
            WHEN v < 0.9 THEN 'val'
            ELSE 'test' END AS split
FROM u
"""

def _doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum corpus mixing: keep all docs of rare
    languages, 25% of 'en' (the boilerplate-heavy majority). Pure
    md5-hash decision per row — no RNG, no shuffle, engine-portable."""
    from pipelinedp_spark.functions.sampling import stratified_sample
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(docs, "doc_id", "lang",
                             {"en": 0.25}, default_fraction=1.0)

_DOC_STRATIFIED_SQL = """
WITH u AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5('strata:' || CAST(doc_id AS VARCHAR)), 1, 15))
             ::BIGINT / 1152921504606846976.0 AS v
  FROM documents)
SELECT doc_id, lang
FROM u
WHERE v < CASE WHEN lang = 'en' THEN 0.25 ELSE 1.0 END
"""

def _multimodal_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL end-to-end binary image path: a deterministic grayscale pixel
    pattern per doc -> real 24-bit BMP encoding (struct, bottom-up rows,
    4-byte row padding) -> opaque binary column -> real decode
    (operators.multimodal.decode_bmp) -> exact integer luma stats. The
    oracle recomputes the stats straight from the generating formula, so a
    header/padding/row-order bug in EITHER codec breaks the match. Widths
    5..8 exercise all four row-padding residues."""
    import numpy as np
    import pandas as pd
    from pipelinedp_spark.operators import multimodal as MM

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(it):
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            payloads = []
            for d in ids:
                h, w = 4 + d % 3, 5 + d % 4
                i, j = np.meshgrid(np.arange(h), np.arange(w),
                                   indexing="ij")
                px = ((d + 7 * i + 13 * j) % 256).astype(np.uint8)
                payloads.append(MM.encode_bmp(px))
            yield pd.DataFrame({"doc_id": ids, "image": payloads})

    imgs = docs.mapInPandas(gen, "doc_id long, image binary")
    return MM.image_pixel_stats(imgs, "image").select(
        "doc_id", "px_width", "px_height", "px_sum", "px_min", "px_max")

_MULTIMODAL_BMP_SQL = """
WITH px AS (
  SELECT d.doc_id, (d.doc_id + 7 * gi.i + 13 * gj.j) % 256 AS v
  FROM documents d,
       generate_series(0, 5) gi(i),
       generate_series(0, 7) gj(j)
  WHERE gi.i < 4 + d.doc_id % 3 AND gj.j < 5 + d.doc_id % 4)
SELECT doc_id,
       CAST(5 + doc_id % 4 AS INT) AS px_width,
       CAST(4 + doc_id % 3 AS INT) AS px_height,
       CAST(SUM(v) AS BIGINT) AS px_sum,
       CAST(MIN(v) AS INT) AS px_min,
       CAST(MAX(v) AS INT) AS px_max
FROM px GROUP BY doc_id
"""

def _multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL end-to-end binary audio path: deterministic int16 PCM samples
    per doc -> real RIFF/WAVE encoding -> opaque binary column -> real
    decode (operators.multimodal.decode_wav) -> exact integer amplitude
    stats + integer-microsecond duration, all recomputed by the oracle from
    the generating formula. Varying sample counts exercise the data-chunk
    size field; varying rates exercise the fmt chunk."""
    import numpy as np
    import pandas as pd
    from pipelinedp_spark.operators import multimodal as MM

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(it):
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            payloads = []
            for d in ids:
                n = 64 + d % 64
                rate = 8000 * (1 + d % 3)
                samples = ((d * 31 + np.arange(n) * 17) % 4096
                           - 2048).astype(np.int16)
                payloads.append(MM.encode_wav(samples, int(rate)))
            yield pd.DataFrame({"doc_id": ids, "audio": payloads})

    wavs = docs.mapInPandas(gen, "doc_id long, audio binary")
    return MM.audio_pcm_stats(wavs, "audio").select(
        "doc_id", "sample_rate", "n_samples", "amp_sum", "amp_min",
        "amp_max", "duration_us")

_MULTIMODAL_WAV_SQL = """
WITH s AS (
  SELECT d.doc_id, (d.doc_id * 31 + g.k * 17) % 4096 - 2048 AS v
  FROM documents d, generate_series(0, 127) g(k)
  WHERE g.k < 64 + d.doc_id % 64)
SELECT doc_id,
       CAST(8000 * (1 + doc_id % 3) AS INT) AS sample_rate,
       CAST(64 + doc_id % 64 AS BIGINT) AS n_samples,
       CAST(SUM(v) AS BIGINT) AS amp_sum,
       CAST(MIN(v) AS BIGINT) AS amp_min,
       CAST(MAX(v) AS BIGINT) AS amp_max,
       CAST((64 + doc_id % 64) * 1000000
            // (8000 * (1 + doc_id % 3)) AS BIGINT) AS duration_us
FROM s GROUP BY doc_id
"""


QUERIES = {
    "dp_count_public": _dp_count_public,
    "dp_count_dedup_corpus": _dp_count_dedup_corpus,
    "dp_sum_clip_per_partition": _dp_sum_clip_per_partition,
    "dp_sum_clip_per_contribution": _dp_sum_clip_per_contribution,
    "dp_multi_sum_public": _dp_multi_sum_public,
    "dp_mean_public": _dp_mean_public,
    "dp_variance_public": _dp_variance_public,
    "dp_percentile_public": _dp_percentile_public,
    "dp_percentile_tree": _dp_percentile_tree,
    "dp_count_pld": _dp_count_pld,
    "dp_vector_sum_public": _dp_vector_sum_public,
    "dp_partition_selection": _dp_partition_selection,
    "dp_select_partitions_tg": _dp_select_partitions_tg,
    "dp_gaussian_threshold": _dp_gaussian_threshold,
    "dp_select_weighted_gaussian": _dp_select_weighted_gaussian,
    "dp_post_agg_threshold": _dp_post_agg_threshold,
    "dp_count_max_contributions": _dp_count_max_contributions,
    "dp_count_no_cross_bounding": _dp_count_no_cross_bounding,
    "dp_count_composite_key": _dp_count_composite_key,
    "dp_windowed_count_events": _dp_windowed_count_events,
    "dp_private_l0_bounds": _dp_private_l0_bounds,
    "dp_session_count_events": _dp_session_count_events,
    "doc_prep_pipeline": _doc_prep_pipeline,
    "asof_join_events": _asof_join_events,
    "range_join_events": _range_join_events,
    "sessionize_events": _sessionize_events,
    "token_topk": _token_topk,
    "doc_split": _doc_split,
    "multimodal_bmp_decode": _multimodal_bmp_decode,
    "multimodal_wav_decode": _multimodal_wav_decode,
    "doc_stratified_sample": _doc_stratified_sample,
    "asof_join_tolerance_events": _asof_join_tolerance_events,
    "range_join_keyed_events": _range_join_keyed_events,
    "dedup_cross_corpus": _dedup_cross_corpus,
    "multimodal_mp4_meta": _multimodal_mp4_meta,
    "dedup_exact_incremental": _dedup_exact_incremental,
    "stream_exact_store_mirror": _stream_exact_store_mirror,
    "stream_near_dup_store_mirror": _stream_near_dup_store_mirror,
    "dp_vector_mean_public": _dp_vector_mean_public,
}

ORACLES = {
    "dp_count_public": _DP_COUNT_PUBLIC_SQL,
    "dp_sum_clip_per_partition": _DP_SUM_CLIP_SQL,
    "dp_sum_clip_per_contribution": _DP_SUM_CONTRIB_SQL,
    "dp_multi_sum_public": _DP_MULTI_SUM_SQL,
    "dp_mean_public": _DP_MEAN_SQL,
    "dp_variance_public": _DP_VARIANCE_SQL,
    "dp_percentile_public": _DP_PERCENTILE_SQL,
    "dp_percentile_tree": _gen_percentile_sql(16 ** 4),
    "dp_count_pld": _DP_COUNT_PLD_SQL,
    "dp_vector_sum_public": _DP_VECTOR_SUM_SQL,
    "dp_partition_selection": _dp_partition_selection_sql(),
    "dp_select_partitions_tg": _dp_select_partitions_tg_sql(),
    "dp_gaussian_threshold": _dp_gaussian_threshold_sql(),
    "dp_select_weighted_gaussian": _dp_select_weighted_gaussian_sql(),
    "dp_post_agg_threshold": _post_agg_threshold_sql(),
    "dp_count_max_contributions": _DP_MAX_CONTRIB_SQL,
    "dp_count_no_cross_bounding": _DP_NO_CROSS_BOUNDING_SQL,
    "dp_count_composite_key": _dp_count_composite_key_sql(),
    "dp_windowed_count_events": _dp_windowed_count_events_sql(),
    "dp_private_l0_bounds": _DP_PRIVATE_L0_BOUNDS_SQL,
    "dp_session_count_events": _dp_session_count_events_sql(),
    "doc_prep_pipeline": _DOC_PREP_PIPELINE_SQL,
    "asof_join_events": _ASOF_JOIN_EVENTS_SQL,
    "range_join_events": _RANGE_JOIN_EVENTS_SQL,
    "sessionize_events": _SESSIONIZE_EVENTS_SQL,
    "token_topk": _TOKEN_TOPK_SQL,
    "doc_split": _DOC_SPLIT_SQL,
    "multimodal_bmp_decode": _MULTIMODAL_BMP_SQL,
    "multimodal_wav_decode": _MULTIMODAL_WAV_SQL,
    "dp_count_dedup_corpus": _DP_COUNT_DEDUP_SQL,
    "doc_stratified_sample": _DOC_STRATIFIED_SQL,
    "asof_join_tolerance_events": _ASOF_TOLERANCE_SQL,
    "range_join_keyed_events": _RANGE_JOIN_KEYED_SQL,
    "dedup_cross_corpus": _DEDUP_CROSS_CORPUS_SQL,
    "multimodal_mp4_meta": _MULTIMODAL_MP4_SQL,
    "dedup_exact_incremental": _DEDUP_EXACT_INCR_SQL,
    "stream_exact_store_mirror": _STREAM_EXACT_STORE_MIRROR_SQL,
    "stream_near_dup_store_mirror": _STREAM_ND_STORE_MIRROR_SQL,
    "dp_vector_mean_public": _DP_VECTOR_MEAN_SQL,
}
