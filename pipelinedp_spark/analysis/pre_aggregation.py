"""Pre-aggregation: shrink raw data to per-(privacy_id, partition) stats.

Reference semantics: analysis/pre_aggregation.py:20-62 — the output has one
row per (privacy_id, partition_key) present in the data, carrying
(count, sum, n_partitions, n_contributions):
  count           rows the privacy id contributed to this partition
  sum             value sum the privacy id contributed to this partition
  n_partitions    distinct partitions this privacy id contributed to anywhere
  n_contributions total rows this privacy id contributed anywhere

Spark shape: two shuffles. The groupBy(pid, pk) hash-partitions by
(pid, pk) after a map-side partial aggregate, so the rows of one pair
cross it as at most one partial row per map task, and a heavy privacy
id's rows spread over its partition keys. The window over pid then
hash-partitions the per-pair rows by pid. The output keeps that pid
partitioning, so a later groupBy(pid) of it adds no third shuffle; nor
does one of a cached output, once the cache is built. The optional
partition sampling is deterministic (hash-based), mirroring the
reference's seeded ValueSampler
(pipeline_dp/sampling_utils.py:32-51) so analysis runs are reproducible.
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pipelinedp_spark.dp_engine import DataFrameExtractors

_HASH_BUCKETS = 1_000_000


def preaggregate(df: DataFrame,
                 extractors: DataFrameExtractors,
                 partitions_sampling_prob: float = 1.0,
                 keep_privacy_id: bool = False,
                 include_sum_squares: bool = False) -> DataFrame:
    """Returns (partition cols..., count, sum, n_partitions,
    n_contributions), one row per (privacy_id, partition_key).

    ``include_sum_squares=True`` adds a ``sum_sq`` column (sum of squared
    raw values) — an extension over the reference preaggregate needed for
    VARIANCE utility analysis; the normalized moments derive from the raw
    ones (sum((v-mid)^2) = sum_sq - 2*mid*sum + count*mid^2)."""
    pid = extractors.privacy_id_column
    pk_cols = list(extractors.partition_key_columns)
    value = extractors.value_column

    if partitions_sampling_prob < 1.0:
        bucket = F.pmod(F.xxhash64(*[F.col(c) for c in pk_cols]),
                        F.lit(_HASH_BUCKETS))
        df = df.filter(
            bucket < F.lit(int(partitions_sampling_prob * _HASH_BUCKETS)))

    value_expr = (F.sum(F.col(value).cast("double")) if value is not None
                  else F.lit(0.0))
    aggs = [F.count(F.lit(1)).alias("count"), value_expr.alias("sum")]
    if include_sum_squares:
        sq = (F.sum(F.col(value).cast("double") * F.col(value).cast("double"))
              if value is not None else F.lit(0.0))
        aggs.append(sq.alias("sum_sq"))
    per = df.groupBy(pid, *pk_cols).agg(*aggs)
    w = Window.partitionBy(pid)
    per = (per.withColumn("n_partitions", F.count(F.lit(1)).over(w))
           .withColumn("n_contributions", F.sum("count").over(w)))
    cols = ([pid] if keep_privacy_id else []) + \
        pk_cols + ["count", "sum"] + \
        (["sum_sq"] if include_sum_squares else []) + \
        ["n_partitions", "n_contributions"]
    return per.select(*cols)
