"""Analysis-layer tests: pre-aggregation, histograms, error estimation,
utility analysis, tuning, strategy selection."""

import math
import uuid
import warnings

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import pipelinedp_spark as pds
from pipelinedp_spark import analysis as A
from pipelinedp_spark.aggregate_params import (AggregateParams, Metric,
                                               Metrics, NoiseKind)
from pipelinedp_spark.analysis.histograms import HistogramType
from pipelinedp_spark.dp_computations import Sensitivities
from pipelinedp_spark.dp_engine import DataFrameExtractors

pytestmark = pytest.mark.analysis


@pytest.fixture
def data(spark):
    # user u contributes to partitions 0..(u % 3), 2 rows each, value 1.5
    rows = []
    for u in range(12):
        for pk in range(u % 3 + 1):
            rows += [(u, f"p{pk}", 1.5), (u, f"p{pk}", 1.5)]
    return spark.createDataFrame(rows, "uid int, pk string, v double")


EXT = DataFrameExtractors("uid", "pk", "v")


def test_preaggregate(data):
    out = A.preaggregate(data, EXT)
    rows = out.collect()
    # one row per (pid, pk): users with u%3==2 contribute to 3 partitions
    assert len(rows) == sum(u % 3 + 1 for u in range(12))
    r = [x for x in rows if x["n_partitions"] == 3][0]
    assert r["count"] == 2 and r["sum"] == 3.0 and r["n_contributions"] == 6


def test_preaggregate_sampling_deterministic(data):
    a = A.preaggregate(data, EXT, partitions_sampling_prob=0.5).collect()
    b = A.preaggregate(data, EXT, partitions_sampling_prob=0.5).collect()
    assert sorted(map(str, a)) == sorted(map(str, b))
    assert len(a) < A.preaggregate(data, EXT).count()


def test_dataset_histograms(data):
    h = A.compute_dataset_histograms(data, EXT)
    # L0: 4 users each with 1, 2, 3 partitions
    l0 = {b.lower: b.count for b in h.l0_contributions_histogram.bins}
    assert l0 == {1: 4, 2: 4, 3: 4}
    # Linf: every (pid, pk) has exactly 2 contributions
    linf = {b.lower: b.count for b in h.linf_contributions_histogram.bins}
    assert set(linf) == {2}
    assert h.l0_contributions_histogram.total_count == 12
    assert h.count_per_partition_histogram.total_count == 3  # 3 partitions
    assert h.sum_per_partition_histogram is not None


def test_dataset_histograms_empty_df(spark):
    # Regression (r04 advice): empty input with a value column crashed
    # with KeyError('linf_sum') in the float-bin range lookup.
    empty = spark.createDataFrame([], "uid int, pk string, v double")
    h = A.compute_dataset_histograms(empty, EXT)
    assert h.l0_contributions_histogram.bins == []
    assert h.linf_sum_contributions_histogram.bins == []
    assert h.sum_per_partition_histogram.bins == []


def test_dataset_histograms_all_null_value(spark):
    # All-null value column: float ranges collapse to lo=None; float
    # histograms must come back empty instead of TypeError-ing.
    df = spark.createDataFrame([(1, "p0", None), (2, "p0", None)],
                               "uid int, pk string, v double")
    h = A.compute_dataset_histograms(df, EXT)
    assert h.linf_sum_contributions_histogram.bins == []
    assert h.sum_per_partition_histogram.bins == []
    # integer histograms still real
    assert h.l0_contributions_histogram.total_count == 2


def _skewed_rows(null_pairs: bool):
    """Seeded skewed table: a hot user with ~1500 rows, power-law users
    and partitions, dyadic values (so every sum is exact in any order).
    With ``null_pairs`` some (pid, pk) pairs hold only null values and
    some others hold a null beside real values."""
    r = np.random.default_rng(11)
    n = 4000
    uid = np.where(r.random(n) < 0.35, 0,
                   (r.random(n) ** 3 * 600).astype(int) + 1)
    pk = (r.random(n) ** 2 * 40).astype(int)
    region = r.integers(0, 2, n)
    v = r.integers(-8, 40, n) / 4.0
    rows = [(int(a), f"p{b}", int(c), float(d))
            for a, b, c, d in zip(uid, pk, region, v)]
    if null_pairs:
        rows = [(a, b, c, None if a % 7 == 3 and b == "p1" else d)
                for a, b, c, d in rows]
        rows += [(5, "p2", 0, None), (9999, "p39", 1, None)]
    return rows


def _sig3(n: int) -> int:
    """Lower bound of n's log bin: n with all but its 3 most significant
    digits zeroed."""
    base = 10 ** max(0, len(str(n)) - 3)
    return n // base * base


def _int_bins(values):
    groups = {}
    for x in values:
        groups.setdefault(_sig3(int(x)), []).append(float(x))
    return [(lo, lo + 10 ** max(0, len(str(lo)) - 3), len(xs), sum(xs),
             max(xs), min(xs)) for lo, xs in sorted(groups.items())]


def _float_bins(values, buckets=10_000):
    xs = [float(x) for x in values if not pd.isna(x)]
    if not xs:
        return []
    lo, hi = min(xs), max(xs)
    width = (hi - lo) / buckets if hi > lo else 1.0
    groups = {}
    for x in xs:
        groups.setdefault(min(buckets - 1, math.floor((x - lo) / width)),
                          []).append(x)
    return [(lo + i * width, lo + (i + 1) * width, len(g), sum(g), max(g),
             min(g)) for i, g in sorted(groups.items())]


def _reference_histograms(rows):
    """The seven histograms computed with pandas from the raw rows."""
    pdf = pd.DataFrame(rows, columns=["uid", "pk", "region", "v"])
    pair = pdf.groupby(["uid", "pk", "region"]).agg(
        count=("v", "size"), sum=("v", lambda s: s.sum(min_count=1)))
    per_pid = pair.groupby(level="uid")["count"].agg(["size", "sum"])
    per_pk = pair.groupby(level=["pk", "region"]).agg(
        pids=("count", "size"), count=("count", "sum"),
        sum=("sum", lambda s: s.sum(min_count=1)))
    return {
        "l0_contributions_histogram": _int_bins(per_pid["size"]),
        "l1_contributions_histogram": _int_bins(per_pid["sum"]),
        "linf_contributions_histogram": _int_bins(pair["count"]),
        "linf_sum_contributions_histogram": _float_bins(pair["sum"]),
        "count_per_partition_histogram": _int_bins(per_pk["count"]),
        "count_privacy_id_per_partition": _int_bins(per_pk["pids"]),
        "sum_per_partition_histogram": _float_bins(per_pk["sum"]),
    }


@pytest.mark.parametrize("case",
                         ["skewed", "null_pairs", "empty", "all_null"])
def test_histograms_match_pandas_reference(spark, case):
    """All seven histograms against an independent pandas computation:
    bin bounds, counts, min and max exact, bin sums to 1e-9 relative."""
    if case == "empty":
        rows = []
    elif case == "all_null":
        rows = [(u, f"p{u % 3}", 0, None) for u in range(20)]
    else:
        rows = _skewed_rows(null_pairs=case == "null_pairs")
    df = spark.createDataFrame(rows, "uid int, pk string, region int, "
                                     "v double")
    h = A.compute_dataset_histograms(
        df, DataFrameExtractors("uid", ["pk", "region"], "v"))
    for name, want in _reference_histograms(rows).items():
        got = getattr(h, name).bins
        assert [(b.lower, b.upper, b.count, b.max, b.min) for b in got] == \
            [(lo, up, n, mx, mn) for lo, up, n, _, mx, mn in want], name
        assert [b.sum for b in got] == pytest.approx(
            [w[3] for w in want], rel=1e-9, abs=0.0), name
    if case == "skewed":
        # The hot user reaches the 4-digit bins.
        assert h.l1_contributions_histogram.max_value >= 1000


def _jobs_and_no_cache_left(spark, fn) -> int:
    """Spark jobs ``fn`` runs under its own job group; also checks that no
    cached blocks outlive the call."""
    sc = spark.sparkContext
    cached = sc._jsc.getPersistentRDDs().size()
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc._jsc.getPersistentRDDs().size() == cached
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_histograms_and_tune_job_counts(spark, data):
    """The raw frame is grouped once and the seven histograms bin in one
    aggregate: at most 9 jobs for the histograms and 13 for tune, which
    shares its pre-aggregate with the utility analysis."""
    params = AggregateParams(metrics=[Metrics.COUNT],
                             max_partitions_contributed=1,
                             max_contributions_per_partition=1)
    assert _jobs_and_no_cache_left(
        spark, lambda: A.compute_dataset_histograms(data, EXT)) <= 9
    assert _jobs_and_no_cache_left(spark, lambda: A.tune(
        data, params, EXT, epsilon=100.0, delta=1e-6,
        public_partitions=["p0", "p1", "p2"])) <= 13


def test_tune_uses_given_histograms(data):
    params = AggregateParams(metrics=[Metrics.COUNT],
                             max_partitions_contributed=1,
                             max_contributions_per_partition=1)
    h = A.compute_dataset_histograms(data, EXT)
    # Only L0 = 1 and Linf = 1 are offered as candidates.
    h.l0_contributions_histogram.bins = h.l0_contributions_histogram.bins[:1]
    h.linf_contributions_histogram.bins = [
        A.FrequencyBin(1, 2, 24, 24.0, 1.0, 1.0)]
    result = A.tune(data, params, EXT, epsilon=100.0, delta=1e-6,
                    public_partitions=["p0", "p1", "p2"], histograms=h)
    assert result.histograms is h
    assert result.configurations.size == 1
    assert result.recommended_max_partitions_contributed == 1
    assert result.recommended_max_contributions_per_partition == 1


def test_tune_variance_warns_on_out_of_range_values(spark):
    """tune analyzes its own pre-aggregate, which carries only sums; it
    still warns when raw values leave [min_value, max_value]."""
    params = AggregateParams(metrics=[Metrics.VARIANCE],
                             max_partitions_contributed=1,
                             max_contributions_per_partition=2,
                             min_value=0.0, max_value=4.0)
    kw = dict(epsilon=3.0, delta=1e-6, tuned_metric=Metric.VARIANCE,
              public_partitions=["A"])
    out_of_range = spark.createDataFrame(
        [(1, "A", 1.0), (2, "A", 9.0), (2, "A", 2.0)],
        "uid int, pk string, v double")
    with pytest.warns(UserWarning, match="assumes values lie in"):
        A.tune(out_of_range, params, EXT, **kw)
    in_range = spark.createDataFrame(
        [(1, "A", 1.0), (2, "A", 4.0), (2, "A", 2.0)],
        "uid int, pk string, v double")
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        result = A.tune(in_range, params, EXT, **kw)
    assert result.utility_reports[0].metric_errors[0].metric == \
        Metric.VARIANCE


def test_log_binning_large_values(spark):
    df = spark.createDataFrame(
        [(1, "a", float(i)) for i in range(1)] +
        [(u, "a", 1.0) for u in range(2, 5)],
        "uid int, pk string, v double")
    # put one user with 12345 contributions in one partition
    big = spark.createDataFrame([(99, "b", 1.0)] * 12345,
                                "uid int, pk string, v double")
    h = A.compute_dataset_histograms(df.unionByName(big), EXT)
    lowers = [b.lower for b in h.linf_contributions_histogram.bins]
    assert 12300 in lowers  # 12345 -> keep 3 significant digits


def test_histogram_quantiles():
    bins = [A.FrequencyBin(i, i + 1, 10, 10 * i, i, i) for i in range(1, 11)]
    h = A.Histogram(HistogramType.L0_CONTRIBUTIONS, bins)
    assert h.quantiles([0.05, 0.5, 1.0]) == [1, 5, 10]


def test_compute_ratio_dropped():
    # 10 pairs with 2 contributions each: cap at 1 drops half.
    bins = [A.FrequencyBin(2, 3, 10, 20, 2, 2)]
    h = A.Histogram(HistogramType.LINF_CONTRIBUTIONS, bins)
    ratios_list = A.compute_ratio_dropped(h)
    ratios = dict(ratios_list)
    assert ratios[0] == 1.0
    assert ratios[2] == 0.0
    # bound=1 is interpolated: dropped = 20 - 10*1 = 10 of 20 -> 0.5
    from pipelinedp_spark.analysis.histogram_error_estimator import \
        _interpolate_ratio
    assert _interpolate_ratio(ratios_list, 1) == pytest.approx(0.5)


def test_error_estimator(data):
    h = A.compute_dataset_histograms(data, EXT)
    est = A.create_estimator_for_count_and_privacy_id_count(
        h, Metric.COUNT, epsilon=1.0, delta=0.0, noise_kind=NoiseKind.LAPLACE)
    # Dropping nothing at max bounds: rmse = noise std only.
    rmse_full = est.estimate_rmse(l0=3, linf=2)
    assert rmse_full == pytest.approx(est.get_stddev(3, 2))
    # Tight bounds increase rmse via dropped data.
    assert est.estimate_rmse(l0=1, linf=1) != rmse_full
    assert est.get_ratio_dropped_l0(3) == 0.0
    assert est.get_ratio_dropped_l0(1) > 0.0


def test_utility_analysis_prefers_loose_bounds_when_noise_cheap(data):
    params = AggregateParams(metrics=[Metrics.COUNT],
                             max_partitions_contributed=1,
                             max_contributions_per_partition=1)
    conf = A.MultiParameterConfiguration(
        max_partitions_contributed=[1, 3],
        max_contributions_per_partition=[1, 2])
    engine = A.UtilityAnalysisEngine(epsilon=100.0, delta=1e-6)
    reports = engine.analyze(data, params, EXT, conf,
                             public_partitions=["p0", "p1", "p2"])
    assert len(reports) == 2
    rmse = {r.configuration_index: r.metric_errors[0].rmse for r in reports}
    # With huge epsilon the bounding error dominates: (3, 2) is exact, so
    # its rmse is pure noise std = l1/eps * sqrt(2) = 6/100 * sqrt(2).
    assert rmse[1] < rmse[0]
    assert rmse[1] == pytest.approx(6.0 / 100.0 * math.sqrt(2.0), rel=1e-6)


def test_utility_analysis_private_partitions(data):
    params = AggregateParams(metrics=[Metrics.PRIVACY_ID_COUNT],
                             max_partitions_contributed=1,
                             max_contributions_per_partition=1)
    conf = A.MultiParameterConfiguration(
        max_partitions_contributed=[3],
        max_contributions_per_partition=[2])
    reports = A.UtilityAnalysisEngine(5.0, 1e-6).analyze(
        data, params, EXT, conf)
    rep = reports[0]
    assert 0 < rep.partitions_kept_expected <= rep.partitions_total == 3


def test_tune(data):
    params = AggregateParams(metrics=[Metrics.COUNT],
                             max_partitions_contributed=1,
                             max_contributions_per_partition=1)
    result = A.tune(data, params, EXT, epsilon=100.0, delta=1e-6,
                    tuned_metric=Metric.COUNT,
                    public_partitions=["p0", "p1", "p2"])
    # Huge epsilon -> pick (near-)max bounds: no contribution dropped.
    assert result.recommended_max_partitions_contributed == 3
    assert result.recommended_max_contributions_per_partition == 2
    assert result.recommended_rmse < 0.1


def test_strategy_selector():
    sens = Sensitivities(l0=4, linf=1.0)
    sel = A.DPStrategySelector(epsilon=1.0, delta=1e-6,
                               metrics=[Metric.COUNT],
                               is_public_partitions=True)
    s = sel.get_dp_strategy(sens)
    assert s.partition_selection_strategy is None
    assert not s.post_aggregation_thresholding
    assert s.noise_kind in (NoiseKind.LAPLACE, NoiseKind.GAUSSIAN)

    sel2 = A.DPStrategySelector(1.0, 1e-6,
                                [Metric.PRIVACY_ID_COUNT, Metric.COUNT],
                                is_public_partitions=False)
    s2 = sel2.get_dp_strategy(sens)
    assert s2.post_aggregation_thresholding
    assert s2.partition_selection_strategy is not None

    # High-dimensional sensitivities favor Gaussian at loose delta.
    wide = Sensitivities(l0=10000, linf=1.0)
    kind = sel.select_noise_kind(1.0, 1e-3, wide)
    assert kind == NoiseKind.GAUSSIAN


def test_utility_analysis_mean_path(data):
    """MEAN error via the delta method on the engine's normalized (count,
    sum) moments. With huge epsilon and non-binding bounds the mean is
    exact up to noise: rmse must be small relative to the true mean (1.5)
    and shrink as epsilon grows; bias is zero when nothing clips."""
    params = AggregateParams(metrics=[Metrics.MEAN],
                             max_partitions_contributed=1,
                             max_contributions_per_partition=1,
                             min_value=0.0, max_value=3.0)
    conf = A.MultiParameterConfiguration(
        max_partitions_contributed=[3],
        max_contributions_per_partition=[2])
    rmses = {}
    for eps in (10.0, 1000.0):
        reports = A.UtilityAnalysisEngine(eps, 1e-6).analyze(
            data, params, EXT, conf, public_partitions=["p0", "p1", "p2"])
        err = reports[0].metric_errors[0]
        assert err.metric == Metric.MEAN
        assert err.expected_abs_bias == pytest.approx(0.0, abs=1e-9)
        rmses[eps] = err.rmse
    assert rmses[1000.0] < rmses[10.0] / 50
    assert rmses[1000.0] < 0.05  # near-exact at eps=1000


def test_utility_analysis_mean_needs_value_bounds(data):
    """MEAN runs on min/max_value: grid sum bounds, which replace the
    value bounds, make a configuration AggregateParams refuses."""
    params = AggregateParams(metrics=[Metrics.MEAN],
                             max_partitions_contributed=1,
                             max_contributions_per_partition=1,
                             min_value=0.0, max_value=3.0)
    conf = A.MultiParameterConfiguration(
        max_partitions_contributed=[3],
        max_contributions_per_partition=[2],
        min_sum_per_partition=[0.0],
        max_sum_per_partition=[3.0])
    with pytest.raises(ValueError, match="min_value, max_value"):
        A.UtilityAnalysisEngine(10.0, 1e-6).analyze(
            data, params, EXT, conf, public_partitions=["p0"])


def test_utility_analysis_preaggregated_input(spark):
    rows = [(u, "g", 1.0) for u in range(10)]
    df = spark.createDataFrame(rows, "uid int, pk string, v double")
    ext = DataFrameExtractors("uid", "pk", "v")
    pre = A.preaggregate(df, ext)
    params = AggregateParams(metrics=[Metrics.COUNT],
                             max_partitions_contributed=1,
                             max_contributions_per_partition=1)
    conf = A.MultiParameterConfiguration(
        max_partitions_contributed=[1],
        max_contributions_per_partition=[1])
    direct = A.UtilityAnalysisEngine(10.0, 1e-6).analyze(
        df, params, ext, conf, public_partitions=["g"])
    from_pre = A.UtilityAnalysisEngine(10.0, 1e-6).analyze(
        pre, params, ext, conf, public_partitions=["g"],
        preaggregated=True)
    assert direct[0].metric_errors[0].rmse == pytest.approx(
        from_pre[0].metric_errors[0].rmse)


def test_utility_analysis_honours_public_partitions(spark):
    """Rows of unlisted keys are dropped before pre-aggregation and a
    listed key without rows is a partition whose only error is noise."""
    df = spark.createDataFrame(
        [(u, "a", 1.0) for u in range(6)] + [(u, "zz", 1.0)
                                             for u in range(4)],
        "uid int, pk string, v double")
    params = AggregateParams(metrics=[Metrics.COUNT],
                             max_partitions_contributed=2,
                             max_contributions_per_partition=1)
    conf = A.MultiParameterConfiguration(
        max_partitions_contributed=[1], max_contributions_per_partition=[1])
    engine = A.UtilityAnalysisEngine(1.0, 1e-6)
    only_a = engine.analyze(df, params, EXT, conf, public_partitions=["a"])
    assert only_a[0].partitions_total == 1
    # Restricted to "a", every id is in one partition: no bounding error.
    err = only_a[0].metric_errors[0]
    assert err.rmse == pytest.approx(err.noise_std, rel=1e-12)
    three = engine.analyze(df, params, EXT, conf,
                           public_partitions=["a", "b", "c"])
    assert three[0].partitions_total == 3
    assert three[0].partitions_kept_expected == 3
    err = three[0].metric_errors[0]
    assert err.rmse == pytest.approx(err.noise_std, rel=1e-12)
    assert err.noise_std == pytest.approx(math.sqrt(2.0), rel=1e-12)
    empty = engine.analyze(df, params, EXT, conf, public_partitions=["b"])
    assert empty[0].partitions_total == 1
    assert empty[0].metric_errors[0].rmse == pytest.approx(math.sqrt(2.0))


def test_utility_analysis_refuses_before_any_job(spark, data):
    """Private partitions at delta == 0, and a configuration AggregateParams
    rejects, raise ValueError before a Spark job runs."""
    count = AggregateParams(metrics=[Metrics.COUNT],
                            max_partitions_contributed=1,
                            max_contributions_per_partition=1)
    conf = A.MultiParameterConfiguration(
        max_partitions_contributed=[1], max_contributions_per_partition=[1])

    def refused(params, configurations, delta, match):
        with pytest.raises(ValueError, match=match):
            A.UtilityAnalysisEngine(1.0, delta).analyze(
                data, params, EXT, configurations)

    assert _jobs_and_no_cache_left(
        spark, lambda: refused(count, conf, 0.0, "requires delta")) == 0
    bad = A.MultiParameterConfiguration(
        max_partitions_contributed=[1, 0],
        max_contributions_per_partition=[1, 1])
    assert _jobs_and_no_cache_left(
        spark, lambda: refused(count, bad, 1e-6, "must be positive")) == 0


def _engine_stddevs(df, params, eps, delta, public):
    acc = pds.NaiveBudgetAccountant(eps, delta)
    result = pds.DPEngine(acc, noise_mode="zero").aggregate(
        df, params, EXT, public_partitions=public)
    acc.compute_budgets()
    row = result.dataframe().collect()[0]
    return {m.output_name: row[f"{m.output_name}_noise_stddev"]
            for m in params.metrics}


@pytest.mark.parametrize("public,kind,post", [
    (True, NoiseKind.LAPLACE, False), (True, NoiseKind.GAUSSIAN, False),
    (False, NoiseKind.LAPLACE, False), (False, NoiseKind.GAUSSIAN, False),
    (False, NoiseKind.LAPLACE, True)])
def test_utility_noise_std_matches_engine(spark, public, kind, post):
    """The analysis reports the noise the engine releases: its noise_std
    equals the engine's `<metric>_noise_stddev` under the same budget."""
    df = spark.createDataFrame([(u, "g", 1.0) for u in range(60)],
                               "uid int, pk string, v double")
    params = AggregateParams(
        metrics=[Metrics.COUNT, Metrics.PRIVACY_ID_COUNT, Metrics.SUM],
        max_partitions_contributed=2, max_contributions_per_partition=3,
        min_value=-1.0, max_value=5.0, noise_kind=kind,
        post_aggregation_thresholding=post, output_noise_stddev=True)
    eps, delta = 10.0, 1e-5
    keys = ["g"] if public else None
    want = _engine_stddevs(df, params, eps, delta, keys)
    conf = A.MultiParameterConfiguration(
        max_partitions_contributed=[2], max_contributions_per_partition=[3])
    report = A.UtilityAnalysisEngine(eps, delta).analyze(
        df, params, EXT, conf, public_partitions=keys)[0]
    got = {e.metric.value: e.noise_std for e in report.metric_errors}
    assert got == want


@pytest.mark.parametrize("pre", [None, 4])
@pytest.mark.parametrize("strategy", ["geometric", "laplace", "gaussian"])
def test_partitions_kept_matches_keep_rule(spark, strategy, pre):
    """Every id in one partition (zero keep variance): the expected kept
    count is the sum over keys of P(keep | n) of the engine's selection,
    which gets half of epsilon (COUNT has the other half) and all of
    delta (COUNT's Laplace noise spends none)."""
    from pipelinedp_spark import dp_computations as dp
    from pipelinedp_spark.aggregate_params import PartitionSelectionStrategy
    sizes = {"k1": 1, "k3": 3, "k6": 6, "k10": 10, "k20": 20}
    rows, uid = [], 0
    for key, n in sizes.items():
        for _ in range(n):
            rows.append((uid, key, 1.0))
            uid += 1
    df = spark.createDataFrame(rows, "uid int, pk string, v double")
    eps, delta = 2.0, 1e-3
    sel = {"geometric": PartitionSelectionStrategy.TRUNCATED_GEOMETRIC,
           "laplace": PartitionSelectionStrategy.LAPLACE_THRESHOLDING,
           "gaussian": PartitionSelectionStrategy.GAUSSIAN_THRESHOLDING}
    params = AggregateParams(metrics=[Metrics.COUNT],
                             max_partitions_contributed=1,
                             max_contributions_per_partition=1,
                             partition_selection_strategy=sel[strategy],
                             pre_threshold=pre)
    # P(keep | n) from the published formulas.
    if strategy == "geometric":
        probs = dp.truncated_geometric_probabilities(eps / 2, delta, 1)
        keep = lambda n: probs[min(n - (pre or 1) + 1, len(probs) - 1)]
    elif strategy == "laplace":
        b, t = dp.laplace_thresholding(eps / 2, delta, 1)
        keep = lambda n: (1.0 - 0.5 * math.exp(-(n - t) / b) if n >= t
                          else 0.5 * math.exp((n - t) / b))
    else:
        sigma, t = dp.gaussian_thresholding(eps / 2, delta, 1)
        keep = lambda n: 0.5 * math.erfc((t - n) / (sigma * math.sqrt(2.0)))
    want = sum(0.0 if pre is not None and n < pre else keep(n)
               for n in sizes.values())
    conf = A.MultiParameterConfiguration(
        max_partitions_contributed=[1], max_contributions_per_partition=[1])
    report = A.UtilityAnalysisEngine(eps, delta).analyze(
        df, params, EXT, conf)[0]
    assert report.partitions_total == len(sizes)
    assert report.partitions_kept_expected == pytest.approx(want, rel=1e-9)
    assert 0.5 < want < len(sizes) - 0.5
