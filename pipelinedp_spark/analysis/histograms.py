"""Dataset contribution/partition histograms.

Reference semantics: pipeline_dp/dataset_histograms/ (histograms.py:20-229,
computing_histograms.py:89-186). Integer histograms (counts) use logarithmic
binning that keeps the 3 most-significant digits of the bin lower
(count_histogram_computation.py:35-54 — "for scalability"); float histograms
(sums) use equal-width bins.

All heavy lifting is native: the raw data is grouped once into the
per-(pid, pk) pre-aggregate (``pre_aggregation.preaggregate``); every
histogram's values are tagged (hist, v) rows of it or of its per-pid /
per-partition groupBy, unioned, and one groupBy(hist, lower) bins all
seven; only the binned summary is collected. Sum histograms need a min/max
pre-pass for their bin width. Measured on the 36-row analysis test table
(``local[4]``, AQE on): ``compute_dataset_histograms`` runs 9 Spark jobs.
``parameter_tuning.tune`` bins the pre-aggregate it also analyzes.
"""

from __future__ import annotations

import dataclasses
import enum
from typing import List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pipelinedp_spark.analysis.pre_aggregation import preaggregate
from pipelinedp_spark.dp_engine import DataFrameExtractors

NUMBER_OF_SUM_BUCKETS = 10_000


class HistogramType(enum.Enum):
    """Reference: pipeline_dp/dataset_histograms/histograms.py:62-80."""

    L0_CONTRIBUTIONS = "l0_contributions"
    L1_CONTRIBUTIONS = "l1_contributions"
    LINF_CONTRIBUTIONS = "linf_contributions"
    LINF_SUM_CONTRIBUTIONS = "linf_sum_contributions"
    COUNT_PER_PARTITION = "count_per_partition"
    COUNT_PRIVACY_ID_PER_PARTITION = "privacy_id_per_partition_count"
    SUM_PER_PARTITION = "sum_per_partition"


@dataclasses.dataclass
class FrequencyBin:
    """Reference: pipeline_dp/dataset_histograms/histograms.py:21-59."""

    lower: float
    upper: float
    count: int
    sum: float
    max: float
    min: float


@dataclasses.dataclass
class Histogram:
    """Binned frequency summary (reference: histograms.py:85-166)."""

    name: HistogramType
    bins: List[FrequencyBin]

    @property
    def total_count(self) -> int:
        return sum(b.count for b in self.bins)

    @property
    def total_sum(self) -> float:
        return sum(b.sum for b in self.bins)

    @property
    def max_value(self) -> float:
        return max((b.max for b in self.bins), default=0)

    def quantiles(self, qs: Sequence[float]) -> List[float]:
        """Approximate quantiles: for each q, the lower bound of the first
        bin at which the cumulative count reaches q * total
        (reference: histograms.py:134-166)."""
        if not self.bins:
            raise ValueError("cannot compute quantiles of an empty histogram")
        total = self.total_count
        out, cum, i = [], 0, 0
        bins = sorted(self.bins, key=lambda b: b.lower)
        for q in qs:
            target = q * total
            while i < len(bins) and cum + bins[i].count < target:
                cum += bins[i].count
                i += 1
            out.append(bins[min(i, len(bins) - 1)].lower)
        return out


@dataclasses.dataclass
class DatasetHistograms:
    """Reference: pipeline_dp/dataset_histograms/histograms.py:211-229."""

    l0_contributions_histogram: Histogram
    l1_contributions_histogram: Histogram
    linf_contributions_histogram: Histogram
    linf_sum_contributions_histogram: Optional[Histogram]
    count_per_partition_histogram: Histogram
    count_privacy_id_per_partition: Histogram
    sum_per_partition_histogram: Optional[Histogram]


def _log_bin_lower(value_col) -> "F.Column":
    """Integer log-binning: keep the 3 most-significant digits
    (reference: count_histogram_computation.py:35-54). base =
    10^max(0, floor(log10(v)) - 2); lower = floor(v / base) * base."""
    base = F.pow(F.lit(10.0),
                 F.greatest(F.floor(F.log10(value_col.cast("double")))
                            - F.lit(2), F.lit(0))).cast("long")
    return (F.floor(value_col.cast("double") / base) * base).cast("long")


def compute_dataset_histograms(df: DataFrame,
                               extractors: DataFrameExtractors
                               ) -> DatasetHistograms:
    """All seven contribution/partition histograms of ``df`` (reference:
    computing_histograms.py:89-186 runs 5 branches over the raw
    collection). Builds the per-(pid, pk) pre-aggregate once, caches it
    for the call and bins it with
    ``compute_dataset_histograms_on_preaggregated_data``. Measured on the
    36-row analysis test table (``local[4]``, AQE on): 9 Spark jobs with a
    value column, 8 without."""
    pre = preaggregate(df, extractors, keep_privacy_id=True).cache()
    try:
        return compute_dataset_histograms_on_preaggregated_data(pre,
                                                                extractors)
    finally:
        pre.unpersist()


def compute_dataset_histograms_on_preaggregated_data(
        pre: DataFrame, extractors: DataFrameExtractors) -> DatasetHistograms:
    """The seven histograms of ``pre``, the output of
    ``preaggregate(..., keep_privacy_id=True)`` (reference:
    computing_histograms.py compute_dataset_histograms_on_preaggregated_data).
    The per-pid L0/L1 values are its ``n_partitions`` / ``n_contributions``;
    the per-partition values come from one groupBy of it. Callers that use
    ``pre`` again should cache it first.

    Two queries: one aggregate for both float-histogram ranges (with a
    value column only), then every histogram's ``(hist, lower, v)`` rows
    tagged, unioned and binned by a single groupBy(hist, lower), so the
    binned summary is one collect."""
    pid = extractors.privacy_id_column
    pk_cols = list(extractors.partition_key_columns)
    has_value = extractors.value_column is not None

    # ``pre`` is hash-partitioned by pid (its window), so this groupBy adds
    # no shuffle; for a cached ``pre``, only once the cache is built (the
    # float-range aggregate below builds it first).
    per_pid = pre.groupBy(pid).agg(F.max("n_partitions").alias("l0"),
                                   F.max("n_contributions").alias("l1"))
    per_pk = pre.groupBy(*pk_cols).agg(
        F.count(F.lit(1)).alias("pid_pp"),
        F.sum("count").alias("count_pp"),
        F.sum("sum").alias("sum_pp"),
        F.min("sum").alias("linf_sum_lo"),
        F.max("sum").alias("linf_sum_hi"))

    # tag -> (lo, width) of its equal-width bins, from one aggregate of
    # per_pk. Empty input or an all-null value column (lo is None) has no
    # bins: its histogram comes back empty, like the reference.
    float_bins = {}
    if has_value:
        r = per_pk.agg(F.min("linf_sum_lo"), F.max("linf_sum_hi"),
                       F.min("sum_pp"), F.max("sum_pp")).collect()[0]
        for tag, lo, hi in (("linf_sum", r[0], r[1]),
                            ("sum_pp", r[2], r[3])):
            if lo is not None:
                float_bins[tag] = (
                    lo, (hi - lo) / NUMBER_OF_SUM_BUCKETS if hi > lo else 1.0)

    def tagged(src: DataFrame, tag_cols) -> DataFrame:
        """One (hist, v) row per input row and (tag, column) pair."""
        rows = [F.struct(F.lit(tag).alias("hist"),
                         F.col(col).cast("double").alias("v"))
                for tag, col in tag_cols]
        return src.select(F.explode(F.array(*rows)).alias("t")).select("t.*")

    v = F.col("v")
    bin_lower = _log_bin_lower(v)
    for tag, (lo, width) in float_bins.items():
        bin_lower = F.when(F.col("hist") == tag, F.least(
            F.lit(NUMBER_OF_SUM_BUCKETS - 1),
            F.floor((v - F.lit(lo)) / F.lit(width)))).otherwise(bin_lower)
    # A float histogram is binned only when it has a range.
    pair_tags = [("linf", "count")]
    pk_tags = [("count_pp", "count_pp"), ("pid_pp", "pid_pp")]
    if "linf_sum" in float_bins:
        pair_tags.append(("linf_sum", "sum"))
    if "sum_pp" in float_bins:
        pk_tags.append(("sum_pp", "sum_pp"))
    union = (tagged(per_pid, [("l0", "l0"), ("l1", "l1")])
             .unionByName(tagged(pre, pair_tags))
             .unionByName(tagged(per_pk, pk_tags)))
    rows_by_tag: dict = {}
    # A pair whose values are all null has a null sum: no float bin.
    for r in (union.where(v.isNotNull())
              .groupBy("hist", bin_lower.cast("double").alias("lower"))
              .agg(F.count(F.lit(1)).alias("count"), F.sum("v").alias("sum"),
                   F.max("v").alias("max"), F.min("v").alias("min"))
              .collect()):
        rows_by_tag.setdefault(r["hist"], []).append(r)

    def int_hist(tag: str, name: HistogramType) -> Histogram:
        bins = []
        for r in sorted(rows_by_tag.get(tag, []), key=lambda x: x["lower"]):
            lower = int(r["lower"])
            base = 10 ** max(0, len(str(max(lower, 1))) - 3)
            bins.append(FrequencyBin(lower=lower, upper=lower + base,
                                     count=int(r["count"]),
                                     sum=float(r["sum"]),
                                     max=float(r["max"]),
                                     min=float(r["min"])))
        return Histogram(name, bins)

    def flt_hist(tag: str, name: HistogramType) -> Optional[Histogram]:
        if not has_value:
            return None
        if tag not in float_bins:
            return Histogram(name, [])
        lo, width = float_bins[tag]
        bins = [FrequencyBin(lower=lo + int(r["lower"]) * width,
                             upper=lo + (int(r["lower"]) + 1) * width,
                             count=int(r["count"]), sum=float(r["sum"]),
                             max=float(r["max"]), min=float(r["min"]))
                for r in sorted(rows_by_tag.get(tag, []),
                                key=lambda x: x["lower"])]
        return Histogram(name, bins)

    return DatasetHistograms(
        l0_contributions_histogram=int_hist(
            "l0", HistogramType.L0_CONTRIBUTIONS),
        l1_contributions_histogram=int_hist(
            "l1", HistogramType.L1_CONTRIBUTIONS),
        linf_contributions_histogram=int_hist(
            "linf", HistogramType.LINF_CONTRIBUTIONS),
        linf_sum_contributions_histogram=flt_hist(
            "linf_sum", HistogramType.LINF_SUM_CONTRIBUTIONS),
        count_per_partition_histogram=int_hist(
            "count_pp", HistogramType.COUNT_PER_PARTITION),
        count_privacy_id_per_partition=int_hist(
            "pid_pp", HistogramType.COUNT_PRIVACY_ID_PER_PARTITION),
        sum_per_partition_histogram=flt_hist(
            "sum_pp", HistogramType.SUM_PER_PARTITION),
    )


def compute_ratio_dropped(
        contribution_histogram: Histogram) -> List[Tuple[float, float]]:
    """For each candidate bound (bin lower), the ratio of contributions
    dropped if contributions were capped at that bound
    (reference: histograms.py:169-208). Returns (bound, ratio) ascending in
    bound; ratio at max_value is 0, at 0 is 1."""
    bins = sorted(contribution_histogram.bins, key=lambda b: b.lower)
    total = contribution_histogram.total_sum
    if total == 0:
        return [(0, 1.0)]
    out = [(contribution_histogram.max_value, 0.0)]
    # Walking bounds from high to low: contributions above `bound` are
    # truncated to `bound`; dropped = sum over bins above of (value - bound).
    count_above = 0
    sum_above = 0.0
    for b in reversed(bins):
        bound = b.lower
        dropped = (sum_above - count_above * bound) + \
            (b.sum - b.count * bound)
        if bound > 0:
            out.append((bound, dropped / total))
        count_above += b.count
        sum_above += b.sum
    out.append((0, 1.0))
    return out[::-1]
