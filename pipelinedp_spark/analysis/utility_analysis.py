"""Multi-configuration utility analysis: the expected error of a DP
aggregation under each candidate contribution bound.

Reference semantics: analysis/utility_analysis_engine.py:31-201 +
analysis/per_partition_combiners.py:37-476 + analysis/cross_partition_
combiners.py:25-347. There the analysis engine is a DPEngine with error
combiners; here each configuration (the caller's AggregateParams with the
grid's bounds) takes its budget split from ``DPEngine.request_budgets``,
its noise from ``dp_engine.noise_draws`` and its partition handling from
``dp_engine.partition_keep_rule``, so it prices the mechanisms the engine
runs. The error is closed-form:

per (privacy_id, partition) with true (count, sum, n_partitions):
  keep_prob p      = min(1, l0 / n_partitions)     [L0 sampling model]
  clipped count    = min(count, linf)              [Linf bounding]
  bias contribution  E = p * clipped - true
  variance contribution V = p (1-p) clipped^2      [Bernoulli keep]
per (config, partition):
  bias = sum E, var = sum V + noise_var
  p_keep: 1 for public partitions; else the expectation of the keep
  rule's P(keep | n) over the Poisson-binomial count n of surviving
  privacy ids (analysis/poisson_binomial.py)
  rmse^2 = p_keep * (bias^2 + var) + (1 - p_keep) * true^2
per config: RMSE = sqrt(mean over partitions of rmse^2); a public
partition without rows has only noise error.

SUM: with sum bounds (the grid's, else the params') each per-(pid, pk) sum
is clipped to them; with value bounds Linf bounding is uniform thinning
(the per-(pid, pk) sum scaled by clipped / count).

MEAN and VARIANCE use the engine's normalized moments: C (count), S (sum
of values minus the midpoint of [min_value, max_value]) and, for
VARIANCE, Q (sum of their squares); mean = mid + S/C, variance = Q/C -
(S/C)^2. Their error is the delta method around the true moments with
the FULL sampling covariance of (C, S, Q) -- the keep event is shared per
privacy id -- so the linearized error moments are exact under the
bounding model (tests/test_utility_variance_parity.py). They average over
the partitions with rows.

One Spark pass: the per-(pid, pk) pre-aggregate is cross-joined with the
(broadcast, tiny) config grid, then groupBy (config, pk) -> (config). Only
per-config sums are collected; the noise terms, constant per
configuration, are added on the driver.
"""

from __future__ import annotations

import dataclasses
import functools
import itertools
import math
import operator
import warnings
from typing import Dict, List, Optional, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pipelinedp_spark.aggregate_params import AggregateParams, Metric
from pipelinedp_spark.analysis import poisson_binomial as pb
from pipelinedp_spark.analysis.pre_aggregation import preaggregate
from pipelinedp_spark.budget_accounting import NaiveBudgetAccountant
from pipelinedp_spark.dp_engine import (DataFrameExtractors, DPEngine,
                                        NoiseDraw,
                                        drop_non_public_partitions,
                                        noise_draws, partition_keep_rule)

# Per-(config, key) column prefixes of the metrics with their own noise
# draw, and the moments' draws each MEAN / VARIANCE estimate reads.
_ADDITIVE = {Metric.COUNT: "count", Metric.PRIVACY_ID_COUNT: "pid",
             Metric.SUM: "sum"}
_MOMENTS = {Metric.MEAN: ("count", "norm_sum"),
            Metric.VARIANCE: ("count", "norm_sum", "norm_sq")}
_VALUE_METRICS = {Metric.SUM, Metric.MEAN, Metric.VARIANCE}


@dataclasses.dataclass
class MultiParameterConfiguration:
    """Candidate parameter grid — parallel lists, one entry per candidate
    (reference: analysis/analysis.py MultiParameterConfiguration)."""

    max_partitions_contributed: Sequence[int]
    max_contributions_per_partition: Sequence[int]
    min_sum_per_partition: Optional[Sequence[float]] = None
    max_sum_per_partition: Optional[Sequence[float]] = None

    def __post_init__(self):
        n = len(self.max_partitions_contributed)
        if len(self.max_contributions_per_partition) != n:
            raise ValueError("configuration lists must have equal length")

    @property
    def size(self) -> int:
        return len(self.max_partitions_contributed)


@dataclasses.dataclass
class MetricUtility:
    """Expected-error summary for one metric under one configuration
    (reference: analysis/metrics.py:20-285, condensed)."""

    metric: Metric
    noise_std: float
    rmse: float
    expected_abs_bias: float
    ratio_data_dropped: float


@dataclasses.dataclass
class UtilityReport:
    """Reference: analysis/metrics.py UtilityReport."""

    configuration_index: int
    partitions_kept_expected: float
    partitions_total: int
    metric_errors: List[MetricUtility]


def warn_if_values_out_of_range(df: DataFrame, params: AggregateParams,
                                extractors: DataFrameExtractors) -> None:
    """Range check for the value metrics' in-range assumption (see
    ``UtilityAnalysisEngine``): when ``params`` has SUM, MEAN or VARIANCE under
    value bounds, one tiny agg job on the raw frame warns if values leave
    ``[min_value, max_value]``."""
    if extractors.value_column is None or params.min_value is None \
            or not _VALUE_METRICS & set(params.metric_kinds):
        return
    v = F.col(extractors.value_column).cast("double")
    r = df.agg(F.min(v).alias("lo"), F.max(v).alias("hi")).collect()[0]
    if r["lo"] is not None and (r["lo"] < params.min_value
                                or r["hi"] > params.max_value):
        warnings.warn(
            "utility analysis assumes values lie in "
            f"[{params.min_value}, {params.max_value}] but the "
            f"data spans [{r['lo']}, {r['hi']}]; per-value "
            "clipping is not modeled, so reported SUM, MEAN and VARIANCE "
            "rmse/bias will diverge from the actual DP "
            "mechanism for out-of-range values", UserWarning)


@dataclasses.dataclass
class _PricedConfiguration:
    """One configuration's params, the noise the engine's release of them
    draws, and its keep vector P(keep | n) (None: every partition is
    kept)."""

    params: AggregateParams
    draws: Dict[str, NoiseDraw]
    keep: Optional[np.ndarray]

    def noise_std(self, metric: Metric) -> float:
        """The std of the noise in the released metric; MEAN and VARIANCE
        report their normalized-sum and sum-of-squares draws."""
        d = self.draws
        if metric == Metric.SUM and "sum" not in d:
            # mid * count + norm_sum, two independent draws.
            mid = (self.params.min_value + self.params.max_value) / 2.0
            return math.hypot(mid * d["count"].std, d["norm_sum"].std)
        return d[{Metric.COUNT: "count", Metric.PRIVACY_ID_COUNT:
                  "privacy_id_count", Metric.SUM: "sum", Metric.MEAN:
                  "norm_sum", Metric.VARIANCE: "norm_sq"}[metric]].std

    def report(self, i: int, metrics: List[Metric], sums: dict,
               n_listed: int) -> UtilityReport:
        """Configuration ``i``'s report from the per-configuration sums of
        ``UtilityAnalysisEngine.analyze`` (empty when no row reached it)
        and the number of listed public keys."""

        def get(key: str) -> float:
            return sums.get(key) or 0.0

        def dropped(key: str) -> float:
            total = get(f"{key}_total")
            return max(get(f"{key}_dropped") / total, 0.0) if total else 0.0

        # A listed key without rows has n = 0 and only noise error.
        n_rows = int(get("n_partitions"))
        n_empty = max(n_listed - n_rows, 0)
        kept = get("partitions_kept") + n_empty * (
            1.0 if self.keep is None else float(self.keep[0]))
        errors = []
        for m in metrics:
            std = self.noise_std(m)
            if m in _ADDITIVE:
                key = _ADDITIVE[m]
                sq = get(f"{key}_sq") + std * std * kept
                n, ratio_dropped = n_rows + n_empty, dropped(key)
            else:
                # Averaged over the partitions with rows: an empty
                # partition has no true mean or variance.
                key = m.value
                sq = get(f"{key}_sq") + sum(
                    get(f"{key}_noise_{k}") * self.draws[k].std ** 2
                    for k in _MOMENTS[m])
                n, ratio_dropped = n_rows, dropped("count")
            errors.append(MetricUtility(
                metric=m,
                noise_std=std,
                rmse=math.sqrt(max(sq / n, 0.0)) if n else math.nan,
                expected_abs_bias=get(f"{key}_abs_bias") / n if n
                else math.nan,
                ratio_data_dropped=ratio_dropped))
        return UtilityReport(configuration_index=i,
                             partitions_kept_expected=kept,
                             partitions_total=n_rows + n_empty,
                             metric_errors=errors)


class UtilityAnalysisEngine:
    """Reference: analysis/utility_analysis_engine.py:31-201.

    SUM under value bounds, MEAN and VARIANCE assume raw values lie within
    ``[min_value, max_value]``: ``preaggregate`` carries only per-(pid, pk)
    ``sum`` / ``sum_sq``, so per-value clipping is not modeled, and their
    rmse/bias diverge from the mechanism for out-of-range data.
    ``analyze`` warns when it can see this (raw input), and so does
    ``parameter_tuning.tune``."""

    def __init__(self, epsilon: float, delta: float):
        self._eps = epsilon
        self._delta = delta

    def _price(self, params: AggregateParams,
               configurations: MultiParameterConfiguration, i: int,
               public: bool) -> _PricedConfiguration:
        """Configuration ``i`` as the engine would run it: the params
        (AggregateParams validates them), their budget on a fresh
        accountant, noise draws and keep vector."""
        bounds = {}
        sums = (configurations.min_sum_per_partition,
                configurations.max_sum_per_partition)
        if any(sums):
            # The grid's sum bounds replace the value bounds.
            lo, hi = (b[i] if b else None for b in sums)
            bounds = dict(min_value=None, max_value=None,
                          min_sum_per_partition=lo, max_sum_per_partition=hi)
        params = dataclasses.replace(
            params, max_contributions=None,
            max_partitions_contributed=(
                configurations.max_partitions_contributed[i]),
            max_contributions_per_partition=(
                configurations.max_contributions_per_partition[i]),
            **bounds)
        accountant = NaiveBudgetAccountant(self._eps, self._delta)
        try:
            specs = DPEngine(accountant).request_budgets(params, public, [])
        except AssertionError as e:
            # The accountant refuses delta-spending mechanisms (partition
            # selection, thresholding, Gaussian noise) when delta is 0.
            raise ValueError(f"utility analysis: {e}") from e
        accountant.compute_budgets()
        keep_spec = (specs["privacy_id_count"]
                     if params.post_aggregation_thresholding
                     else specs.get("partition_selection"))
        keep = (None if keep_spec is None else
                partition_keep_rule(keep_spec, params).keep_probabilities())
        return _PricedConfiguration(params, noise_draws(params, specs), keep)

    def analyze(self,
                df: DataFrame,
                params: AggregateParams,
                extractors: DataFrameExtractors,
                configurations: MultiParameterConfiguration,
                public_partitions: Optional[Sequence] = None,
                preaggregated: bool = False) -> List[UtilityReport]:
        """``preaggregated=True`` accepts input already shaped as the
        preaggregate() output -- partition cols + (count, sum, n_partitions,
        n_contributions) -- the reference's PreAggregateExtractors path
        (reference: pipeline_dp/data_extractors.py:47-66). With
        ``public_partitions`` the rows of unlisted keys are dropped: from
        raw input before pre-aggregation, as the engine drops them before
        bounding, so ``n_partitions`` counts public keys only.
        Preaggregated input must have been pre-aggregated from rows
        restricted that way (``tune`` does it).

        Raises ValueError, before any Spark job, for a configuration the
        engine refuses: one AggregateParams rejects, or a mechanism that
        needs delta (private partitions, thresholding, Gaussian noise)
        when delta is 0."""
        metrics = [m.metric for m in params.metrics
                   if m.metric in _ADDITIVE or m.metric in _MOMENTS]
        if not metrics:
            raise ValueError("utility analysis supports COUNT / "
                             "PRIVACY_ID_COUNT / SUM / MEAN / VARIANCE")
        public = public_partitions is not None
        priced = [self._price(params, configurations, i, public)
                  for i in range(configurations.size)]
        if not priced:
            return []
        first = priced[0].params
        want_variance = Metric.VARIANCE in metrics
        pk_cols = list(extractors.partition_key_columns)
        if public:
            df, _ = drop_non_public_partitions(df, pk_cols, public_partitions)
        if preaggregated:
            missing = ({"count", "sum", "n_partitions"}
                       | ({"sum_sq"} if want_variance else set())) - set(
                           df.columns)
            if missing:
                raise ValueError(
                    f"preaggregated input missing columns: {sorted(missing)}")
            pre = df
        else:
            warn_if_values_out_of_range(df, first, extractors)
            pre = preaggregate(df, extractors, keep_privacy_id=False,
                               include_sum_squares=want_variance)

        confs = df.sparkSession.createDataFrame(
            [(i, c.params.max_partitions_contributed,
              c.params.max_contributions_per_partition,
              c.params.min_sum_per_partition, c.params.max_sum_per_partition)
             for i, c in enumerate(priced)],
            "conf int, l0 int, linf int, min_s double, max_s double")
        j = pre.crossJoin(F.broadcast(confs))
        p = F.least(F.lit(1.0), F.col("l0") / F.col("n_partitions"))
        pq = p * (1 - p)
        cnt = F.col("count").cast("double")
        clipped_cnt = F.least(F.col("count"), F.col("linf").cast("long")) \
            .cast("double")
        ratio = clipped_cnt / cnt
        exprs = [
            F.count(F.lit(1)).alias("pid_true"),
            F.sum(p).alias("pid_mean"),
            F.sum(pq).alias("pid_var"),
            F.sum(pq * (1 - 2 * p)).alias("pid_m3"),
            F.sum(p - 1).alias("pid_bias"),
            F.sum(cnt).alias("count_true"),
            F.sum(p * clipped_cnt - cnt).alias("count_bias"),
            F.sum(pq * clipped_cnt * clipped_cnt).alias("count_var"),
        ]
        if Metric.SUM in metrics:
            s = F.col("sum")
            clipped_sum = (
                F.greatest(F.least(s, F.col("max_s")), F.col("min_s"))
                if first.min_sum_per_partition is not None else s * ratio)
            exprs += [
                F.sum(s).alias("sum_true"),
                F.sum(p * clipped_sum - s).alias("sum_bias"),
                F.sum(pq * clipped_sum * clipped_sum).alias("sum_var"),
            ]
        moments = [m for m in metrics if m in _MOMENTS]
        if moments:
            # Normalized per-(pid, pk) moments around mid; Linf bounding
            # is uniform thinning: keeping clipped/count of the rows
            # scales each moment by that ratio.
            mid = (first.min_value + first.max_value) / 2.0
            raw = {"norm_sum": F.col("sum") - cnt * F.lit(mid)}
            if want_variance:
                raw["norm_sq"] = (F.col("sum_sq")
                                  - 2 * F.lit(mid) * F.col("sum")
                                  + cnt * F.lit(mid * mid))
            thinned = {"count": clipped_cnt,
                       **{k: v * ratio for k, v in raw.items()}}
            for k, v in raw.items():
                exprs += [F.sum(v).alias(f"{k}_true"),
                          F.sum(p * thinned[k] - v).alias(f"{k}_bias"),
                          F.sum(pq * thinned[k] * thinned[k])
                          .alias(f"{k}_var")]
            exprs += [F.sum(pq * thinned[a] * thinned[b]).alias(f"cov_{a}_{b}")
                      for a, b in itertools.combinations(thinned, 2)]
        per_pk = j.groupBy("conf", *pk_cols).agg(*exprs)

        if priced[0].keep is not None:
            keep = {i: c.keep for i, c in enumerate(priced)}

            @F.pandas_udf("double")
            def _p_keep(conf: pd.Series, mean: pd.Series, var: pd.Series,
                        m3: pd.Series, n: pd.Series) -> pd.Series:
                return pd.Series([
                    pb.keep_probability(mean.iat[i], var.iat[i], m3.iat[i],
                                        int(n.iat[i]), keep[conf.iat[i]])
                    for i in range(len(conf))])

            p_keep = _p_keep(F.col("conf"), F.col("pid_mean"),
                             F.col("pid_var"), F.col("pid_m3"),
                             F.col("pid_true"))
        else:
            p_keep = F.lit(1.0)
        kept = F.col("p_keep")

        def squared_error(bias: Column, var: Column, true: Column) -> Column:
            """Expected squared error of a partition, noise left out."""
            return kept * (bias * bias + var) + (1 - kept) * true * true

        # Per configuration: sums over its partitions with rows. The noise
        # terms, constant per configuration, are added on the driver.
        agg_exprs = {"n_partitions": F.count(F.lit(1)),
                     "partitions_kept": F.sum(kept)}
        for key in dict.fromkeys(
                ["count"] + [_ADDITIVE[m] for m in metrics if m in _ADDITIVE]):
            bias, true = F.col(f"{key}_bias"), F.col(f"{key}_true")
            agg_exprs.update({
                f"{key}_sq": F.sum(squared_error(bias, F.col(f"{key}_var"),
                                                 true)),
                f"{key}_abs_bias": F.sum(F.abs(bias)),
                f"{key}_dropped": F.sum(-bias),
                f"{key}_total": F.sum(F.abs(true))})
        C, S = F.col("count_true"), F.col("norm_sum_true")
        for m in moments:
            # Delta method around the true moments: the gradient of
            # mean = mid + S/C, or of variance = Q/C - (S/C)^2.
            if m == Metric.MEAN:
                f_true = F.lit(mid) + S / C
                grad = {"count": -S / (C * C), "norm_sum": 1 / C}
            else:
                Q = F.col("norm_sq_true")
                f_true = Q / C - (S / C) * (S / C)
                grad = {"count": -Q / (C * C) + 2 * S * S / (C * C * C),
                        "norm_sum": -2 * S / (C * C), "norm_sq": 1 / C}
            bias = functools.reduce(operator.add, [
                g * F.col(f"{k}_bias") for k, g in grad.items()])
            var = functools.reduce(operator.add, [
                g * g * F.col(f"{k}_var") for k, g in grad.items()] + [
                2 * grad[a] * grad[b] * F.col(f"cov_{a}_{b}")
                for a, b in itertools.combinations(grad, 2)])
            key = m.value
            agg_exprs.update({
                f"{key}_sq": F.sum(squared_error(bias, var, f_true)),
                f"{key}_abs_bias": F.sum(F.abs(bias)),
                **{f"{key}_noise_{k}": F.sum(kept * g * g)
                   for k, g in grad.items()}})
        per_conf = {r["conf"]: r.asDict() for r in (
            per_pk.withColumn("p_keep", p_keep).groupBy("conf")
            .agg(*[e.alias(k) for k, e in agg_exprs.items()]).collect())}

        n_listed = (len(dict.fromkeys(
            k if isinstance(k, tuple) else (k,) for k in public_partitions))
            if public else 0)
        return [c.report(i, metrics, per_conf.get(i, {}), n_listed)
                for i, c in enumerate(priced) if i in per_conf or n_listed]
