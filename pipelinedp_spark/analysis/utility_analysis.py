"""Multi-configuration utility analysis: expected DP error per parameter set.

Reference semantics: analysis/utility_analysis_engine.py:31-201 +
analysis/per_partition_combiners.py:37-476 + analysis/cross_partition_
combiners.py:25-347 — instead of running noisy aggregations, compute the
*closed-form expected error* of each candidate configuration:

per (privacy_id, partition) with true (count, sum, n_partitions):
  keep_prob p      = min(1, l0 / n_partitions)     [L0 sampling model]
  clipped count    = min(count, linf)              [Linf bounding]
  bias contribution  E = p * clipped - true
  variance contribution V = p (1-p) clipped^2      [Bernoulli keep]
per (config, partition):
  bias = sum E, var = sum V + noise_var
  keep probability under private partition selection: the expectation of
  the thresholding tail over the Poisson-binomial distribution of the
  surviving privacy-id count (refined-normal PMF from three moment sums;
  matches the reference's analysis/poisson_binomial.py machinery)
  rmse^2 = p_keep * (bias^2 + var) + (1 - p_keep) * true^2
per config: RMSE = sqrt(mean over partitions of rmse^2).

Beyond the reference's COUNT / PRIVACY_ID_COUNT / SUM / MEAN, this engine
also analyzes VARIANCE: the delta-method error of Q/C - (S/C)^2 over the
three mechanisms (count, normalized sum, normalized sum of squares),
carrying the FULL sampling covariance of (C, S, Q) — the Bernoulli keep
event is shared per privacy id — so the linearized error moments are
exact under the bounding model (brute-force-enumeration parity:
tests/test_utility_variance_parity.py).

Everything runs in ONE Spark pass: the per-(pid, pk) pre-aggregate is
cross-joined with the (broadcast, tiny) config grid, then two groupBys
(config, pk) -> (config). Only per-config summaries are collected.
"""

from __future__ import annotations

import dataclasses
import math
import warnings
from typing import List, Optional, Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pipelinedp_spark import dp_computations as dp
from pipelinedp_spark.aggregate_params import (AggregateParams, Metric,
                                               NoiseKind,
                                               PartitionSelectionStrategy)
from pipelinedp_spark.analysis.pre_aggregation import preaggregate
from pipelinedp_spark.dp_engine import DataFrameExtractors


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
    """Range check for the VARIANCE in-range assumption (see
    ``UtilityAnalysisEngine``): one tiny agg job on the raw frame, run
    before the analysis, that warns when values leave
    ``[min_value, max_value]``."""
    if extractors.value_column is None or params.min_value is None \
            or params.max_value is None:
        return
    v = F.col(extractors.value_column).cast("double")
    r = df.agg(F.min(v).alias("lo"), F.max(v).alias("hi")).collect()[0]
    if r["lo"] is not None and (r["lo"] < params.min_value
                                or r["hi"] > params.max_value):
        warnings.warn(
            "VARIANCE utility analysis assumes values lie in "
            f"[{params.min_value}, {params.max_value}] but the "
            f"data spans [{r['lo']}, {r['hi']}]; per-value "
            "clipping is not modeled, so reported VARIANCE "
            "rmse/bias will diverge from the actual DP "
            "mechanism for out-of-range values", UserWarning)


class UtilityAnalysisEngine:
    """Reference: analysis/utility_analysis_engine.py:31-201.

    VARIANCE caveat: variance utility analysis assumes raw values already
    lie within ``[min_value, max_value]``. Per-value clipping is NOT
    modeled (``preaggregate`` carries only per-(pid, pk) ``sum`` /
    ``sum_sq``, so individual out-of-range values can't be clipped after
    the fact). For data outside the bounds the reported rmse/bias for
    VARIANCE diverge from the actual DP variance mechanism, which clips
    each contribution; ``analyze`` emits a ``UserWarning`` when it can
    detect this (non-preaggregated input whose value range exceeds the
    configured bounds), and so does ``parameter_tuning.tune``, which
    checks its raw input before analyzing its own pre-aggregate."""

    def __init__(self, epsilon: float, delta: float):
        self._eps = epsilon
        self._delta = delta

    def analyze(self,
                df: DataFrame,
                params: AggregateParams,
                extractors: DataFrameExtractors,
                configurations: MultiParameterConfiguration,
                public_partitions: Optional[Sequence] = None,
                preaggregated: bool = False) -> List[UtilityReport]:
        """``preaggregated=True`` accepts input already shaped as the
        preaggregate() output — partition cols + (count, sum, n_partitions,
        n_contributions) — the reference's PreAggregateExtractors path
        (reference: pipeline_dp/data_extractors.py:47-66)."""
        metrics = [m.metric for m in params.metrics
                   if m.metric in (Metric.COUNT, Metric.PRIVACY_ID_COUNT,
                                   Metric.SUM, Metric.MEAN, Metric.VARIANCE)]
        if not metrics:
            raise ValueError("utility analysis supports COUNT / "
                             "PRIVACY_ID_COUNT / SUM / MEAN / VARIANCE")
        if Metric.MEAN in metrics and not configurations.max_sum_per_partition:
            raise ValueError("MEAN analysis needs min/max_sum_per_partition "
                             "in the configuration grid (the sum clip)")
        want_variance = Metric.VARIANCE in metrics
        if want_variance and (params.min_value is None
                              or params.max_value is None):
            raise ValueError("VARIANCE analysis needs params.min_value / "
                             "max_value (the per-contribution value bounds)")
        spark = df.sparkSession
        pk_cols = list(extractors.partition_key_columns)
        if preaggregated:
            required = {"count", "sum", "n_partitions"}
            if want_variance:
                required = required | {"sum_sq"}
            missing = required - set(df.columns)
            if missing:
                raise ValueError(
                    f"preaggregated input missing columns: {sorted(missing)}")
            pre = df
        else:
            if want_variance:
                warn_if_values_out_of_range(df, params, extractors)
            pre = preaggregate(df, extractors, keep_privacy_id=False,
                               include_sum_squares=want_variance)

        # Budget: naive split across requested metrics (+ selection).
        n_mech = len(metrics) + (0 if public_partitions is not None else 1)
        eps_m = self._eps / n_mech
        delta_m = self._delta / n_mech if self._delta else 0.0

        conf_rows = []
        for i in range(configurations.size):
            l0 = configurations.max_partitions_contributed[i]
            linf = configurations.max_contributions_per_partition[i]
            min_s = (configurations.min_sum_per_partition[i]
                     if configurations.min_sum_per_partition else None)
            max_s = (configurations.max_sum_per_partition[i]
                     if configurations.max_sum_per_partition else None)
            noise = {}
            for m in metrics:
                if m == Metric.COUNT:
                    sens = dp.count_sensitivities(l0, linf)
                elif m == Metric.PRIVACY_ID_COUNT:
                    sens = dp.privacy_id_count_sensitivities(l0)
                elif m == Metric.MEAN:
                    # mean = noisy sum / noisy count with its eps_m split
                    # half/half between the two internal mechanisms; the
                    # two stds combine per partition via the delta method.
                    csens = dp.count_sensitivities(l0, linf)
                    ssens = dp.sum_sensitivities(l0, linf, None, None,
                                                 min_s or 0.0, max_s or 1.0)
                    noise["mean_count"] = dp.noise_std(
                        params.noise_kind, eps_m / 2, delta_m / 2, csens)
                    noise["mean_sum"] = dp.noise_std(
                        params.noise_kind, eps_m / 2, delta_m / 2, ssens)
                    continue
                elif m == Metric.VARIANCE:
                    # variance = Q/C - (S/C)^2 over normalized values in
                    # [-h, h]: three mechanisms (count, normalized sum,
                    # normalized sum of squares), eps/delta split in 3
                    # (mirrors dp.variance_scales / reference
                    # pipeline_dp/dp_computations.py:284-312).
                    h = (params.max_value - params.min_value) / 2.0
                    noise["var_count"] = dp.noise_std(
                        params.noise_kind, eps_m / 3, delta_m / 3,
                        dp.Sensitivities(l0=l0, linf=float(linf)))
                    noise["var_sum"] = dp.noise_std(
                        params.noise_kind, eps_m / 3, delta_m / 3,
                        dp.Sensitivities(l0=l0, linf=linf * h)) \
                        if h > 0 else 0.0
                    noise["var_sq"] = dp.noise_std(
                        params.noise_kind, eps_m / 3, delta_m / 3,
                        dp.Sensitivities(l0=l0, linf=linf * h * h)) \
                        if h > 0 else 0.0
                    continue
                else:
                    sens = dp.sum_sensitivities(l0, linf, None, None,
                                                min_s or 0.0, max_s or 1.0)
                noise[m.value] = dp.noise_std(params.noise_kind, eps_m,
                                              delta_m, sens)
            if public_partitions is None:
                scale, threshold = dp.laplace_thresholding(eps_m,
                                                           delta_m or 1e-10,
                                                           l0)
            else:
                scale, threshold = 0.0, 0.0
            conf_rows.append((i, l0, linf, min_s, max_s,
                              noise.get("count", 0.0),
                              noise.get("privacy_id_count", 0.0),
                              noise.get("sum", 0.0),
                              noise.get("mean_count", 0.0),
                              noise.get("mean_sum", 0.0),
                              noise.get("var_count", 0.0),
                              noise.get("var_sum", 0.0),
                              noise.get("var_sq", 0.0),
                              scale, threshold))
        confs = spark.createDataFrame(
            conf_rows,
            "conf int, l0 int, linf int, min_s double, max_s double, "
            "count_std double, pid_std double, sum_std double, "
            "mcount_std double, msum_std double, "
            "vcount_std double, vsum_std double, vsq_std double, "
            "sel_scale double, sel_threshold double")

        j = pre.crossJoin(F.broadcast(confs))
        p = F.least(F.lit(1.0), F.col("l0") / F.col("n_partitions"))
        clipped_cnt = F.least(F.col("count"), F.col("linf").cast("long")) \
            .cast("double")
        cnt = F.col("count").cast("double")
        exprs = [
            F.count(F.lit(1)).alias("true_pids"),
            F.sum(p).alias("exp_pids"),
            F.sum(cnt).alias("true_count"),
            F.sum(p * clipped_cnt - cnt).alias("count_bias"),
            F.sum(p * (1 - p) * clipped_cnt * clipped_cnt)
            .alias("count_var"),
            F.sum(p - 1).alias("pid_bias"),
            F.sum(p * (1 - p)).alias("pid_var"),
            F.sum(p * (1 - p) * (1 - 2 * p)).alias("pid_m3"),
            F.first("count_std").alias("count_std"),
            F.first("pid_std").alias("pid_std"),
            F.first("sum_std").alias("sum_std"),
            F.first("mcount_std").alias("mcount_std"),
            F.first("msum_std").alias("msum_std"),
            F.first("sel_scale").alias("sel_scale"),
            F.first("sel_threshold").alias("sel_threshold"),
        ]
        if Metric.SUM in metrics or Metric.MEAN in metrics:
            s = F.col("sum")
            clipped_sum = F.greatest(F.least(s, F.col("max_s")),
                                     F.col("min_s"))
            exprs += [
                F.sum(s).alias("true_sum"),
                F.sum(p * clipped_sum - s).alias("sum_bias"),
                F.sum(p * (1 - p) * clipped_sum * clipped_sum)
                .alias("sum_var"),
            ]
        if want_variance:
            # Normalized per-(pid, pk) moments around mid (values assumed
            # within [min_value, max_value]; per-value clipping is not
            # modeled — preaggregate only carries sums). Linf bounding is
            # modeled as uniform thinning: keeping clipped/count of the
            # rows scales each moment by that ratio.
            mid = (params.min_value + params.max_value) / 2.0
            vs = F.col("sum") - cnt * F.lit(mid)
            vq = (F.col("sum_sq") - 2 * F.lit(mid) * F.col("sum")
                  + cnt * F.lit(mid * mid))
            ratio = clipped_cnt / cnt
            vs_c, vq_c = vs * ratio, vq * ratio
            pq = p * (1 - p)
            exprs += [
                F.sum(vs).alias("vr_true_s"),
                F.sum(vq).alias("vr_true_q"),
                F.sum(p * vs_c - vs).alias("vr_bias_s"),
                F.sum(p * vq_c - vq).alias("vr_bias_q"),
                F.sum(pq * vs_c * vs_c).alias("vr_var_s"),
                F.sum(pq * vq_c * vq_c).alias("vr_var_q"),
                F.sum(pq * clipped_cnt * vs_c).alias("vr_cov_cs"),
                F.sum(pq * clipped_cnt * vq_c).alias("vr_cov_cq"),
                F.sum(pq * vs_c * vq_c).alias("vr_cov_sq"),
                F.first("vcount_std").alias("vcount_std"),
                F.first("vsum_std").alias("vsum_std"),
                F.first("vsq_std").alias("vsq_std"),
            ]
        per_pk = j.groupBy("conf", *pk_cols).agg(*exprs)

        # Keep probability under Laplace thresholding: expectation of the
        # thresholding tail over the Poisson-binomial count of surviving
        # privacy ids (refined-normal PMF from the three per-partition
        # moment sums; reference: analysis/poisson_binomial.py:26-83).
        if public_partitions is None:
            from pipelinedp_spark.analysis import poisson_binomial as pb

            @F.pandas_udf("double")
            def _p_keep(mean: pd.Series, var: pd.Series, m3: pd.Series,
                        n: pd.Series, scale: pd.Series,
                        threshold: pd.Series) -> pd.Series:
                return pd.Series([
                    pb.keep_probability(mean.iat[i], var.iat[i], m3.iat[i],
                                        int(n.iat[i]), scale.iat[i],
                                        threshold.iat[i])
                    for i in range(len(mean))])

            p_keep = _p_keep(F.col("exp_pids"), F.col("pid_var"),
                             F.col("pid_m3"), F.col("true_pids"),
                             F.col("sel_scale"), F.col("sel_threshold"))
        else:
            p_keep = F.lit(1.0)
        per_pk = per_pk.withColumn("p_keep", p_keep)

        def rmse2(bias, var, std, true):
            kept = F.col("p_keep")
            in_err = bias * bias + var + F.lit(1.0) * std * std
            return kept * in_err + (1 - kept) * true * true

        agg_exprs = [
            F.count(F.lit(1)).alias("n_partitions"),
            F.sum("p_keep").alias("partitions_kept"),
            F.avg(rmse2(F.col("count_bias"), F.col("count_var"),
                        F.col("count_std"), F.col("true_count")))
            .alias("count_rmse2"),
            F.avg(F.abs(F.col("count_bias"))).alias("count_abs_bias"),
            (F.sum(-F.col("count_bias")) / F.sum("true_count"))
            .alias("count_dropped"),
            F.avg(rmse2(F.col("pid_bias"), F.col("pid_var"),
                        F.col("pid_std"), F.col("true_pids")))
            .alias("pid_rmse2"),
            F.avg(F.abs(F.col("pid_bias"))).alias("pid_abs_bias"),
            (F.sum(-F.col("pid_bias")) / F.sum("true_pids"))
            .alias("pid_dropped"),
        ]
        if Metric.SUM in metrics or Metric.MEAN in metrics:
            agg_exprs += [
                F.avg(rmse2(F.col("sum_bias"), F.col("sum_var"),
                            F.col("sum_std"), F.col("true_sum")))
                .alias("sum_rmse2"),
                F.avg(F.abs(F.col("sum_bias"))).alias("sum_abs_bias"),
                (F.sum(-F.col("sum_bias")) /
                 F.sum(F.abs(F.col("true_sum")))).alias("sum_dropped"),
            ]
        if want_variance:
            # Delta method around the true normalized (C, S, Q):
            # variance = Q/C - (S/C)^2, with gradient
            #   fC = -Q/C^2 + 2 S^2/C^3,  fS = -2 S/C^2,  fQ = 1/C.
            # Unlike the MEAN path, the full sampling covariance of
            # (C, S, Q) is carried — the Bernoulli keep event is shared
            # per privacy id, so Cov(X, Y) = sum_i p(1-p) x_i y_i — which
            # makes the linearized error moments EXACT under the
            # keep/thinning model (brute-force parity:
            # tests/test_utility_variance_parity.py).
            C = F.col("true_count").cast("double")
            S, Q = F.col("vr_true_s"), F.col("vr_true_q")
            f_true = Q / C - (S / C) * (S / C)
            fC = -Q / (C * C) + 2 * S * S / (C * C * C)
            fS = -2 * S / (C * C)
            fQ = 1 / C
            v_bias = (fC * F.col("count_bias") + fS * F.col("vr_bias_s")
                      + fQ * F.col("vr_bias_q"))
            v_var = (fC * fC * (F.col("count_var")
                                + F.col("vcount_std") * F.col("vcount_std"))
                     + fS * fS * (F.col("vr_var_s")
                                  + F.col("vsum_std") * F.col("vsum_std"))
                     + fQ * fQ * (F.col("vr_var_q")
                                  + F.col("vsq_std") * F.col("vsq_std"))
                     + 2 * fC * fS * F.col("vr_cov_cs")
                     + 2 * fC * fQ * F.col("vr_cov_cq")
                     + 2 * fS * fQ * F.col("vr_cov_sq"))
            kept = F.col("p_keep")
            agg_exprs += [
                F.avg(kept * (v_bias * v_bias + v_var)
                      + (1 - kept) * f_true * f_true).alias("var_rmse2"),
                F.avg(F.abs(v_bias)).alias("var_abs_bias"),
            ]
        if Metric.MEAN in metrics:
            # Delta method around the true (C, S): mean = S/C, so
            # err_mean ~ err_S / C - M * err_C / C with M = S/C; bias and
            # the sampling/noise variances of S and C combine accordingly
            # (cross-covariance of the bounding events ignored —
            # documented approximation, conservative in the regimes where
            # clipping binds one of the two).
            C = F.col("true_count").cast("double")
            M = F.col("true_sum") / C
            mean_bias = (F.col("sum_bias") - M * F.col("count_bias")) / C
            mean_var = (F.col("sum_var")
                        + F.col("msum_std") * F.col("msum_std")
                        + M * M * (F.col("count_var")
                                   + F.col("mcount_std")
                                   * F.col("mcount_std"))) / (C * C)
            kept = F.col("p_keep")
            agg_exprs += [
                F.avg(kept * (mean_bias * mean_bias + mean_var)
                      + (1 - kept) * M * M).alias("mean_rmse2"),
                F.avg(F.abs(mean_bias)).alias("mean_abs_bias"),
            ]
        per_conf = {r["conf"]: r for r in
                    per_pk.groupBy("conf").agg(*agg_exprs).collect()}

        reports = []
        for i, row in enumerate(conf_rows):
            r = per_conf.get(row[0])
            if r is None:
                continue
            errors = []
            for m in metrics:
                key = {"count": "count", "privacy_id_count": "pid",
                       "sum": "sum", "mean": "mean",
                       "variance": "var"}[m.value]
                # mean / variance have no single noise std: report the
                # (normalized-)sum-mechanism component for mean and the
                # squares mechanism for variance (the dominant terms);
                # their data-dropped ratio is the contributing metric's.
                noise_std = row[{"count": 5, "privacy_id_count": 6,
                                 "sum": 7, "mean": 9,
                                 "variance": 12}[m.value]]
                if key == "mean":
                    dropped = r["sum_dropped"]
                elif key == "var":
                    dropped = r["count_dropped"]
                else:
                    dropped = r[f"{key}_dropped"]
                errors.append(MetricUtility(
                    metric=m,
                    noise_std=noise_std,
                    rmse=math.sqrt(max(r[f"{key}_rmse2"], 0.0)),
                    expected_abs_bias=r[f"{key}_abs_bias"],
                    ratio_data_dropped=max(dropped or 0.0, 0.0)))
            reports.append(UtilityReport(
                configuration_index=row[0],
                partitions_kept_expected=r["partitions_kept"],
                partitions_total=r["n_partitions"],
                metric_errors=errors))
        return reports
