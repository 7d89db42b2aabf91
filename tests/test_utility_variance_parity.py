"""Brute-force parity tests for the utility-analysis error formulas
(reference pattern: analysis/tests/per_partition_combiners_test.py —
closed forms vs exhaustive expectation over the contribution-bounding
randomness).

The analysis models cross-partition bounding as an independent Bernoulli
keep per (privacy id, partition) with p = min(1, l0 / n_partitions), and
Linf bounding as uniform thinning (each per-pid moment scaled by
clipped_count / count). Under that model the first two moments of the
error are computable EXACTLY by enumerating all 2^n keep subsets; these
tests do exactly that and compare against the engine's closed forms —
including the VARIANCE metric's delta-method error with its full
(C, S, Q) sampling covariance.
"""

import itertools
import math

import numpy as np
import pytest

import pipelinedp_spark.analysis as A
from pipelinedp_spark import dp_computations as dp
from pipelinedp_spark.aggregate_params import (AggregateParams, Metrics,
                                               NoiseKind)
from pipelinedp_spark.dp_engine import DataFrameExtractors

pytestmark = pytest.mark.analysis

EXT = DataFrameExtractors("uid", "pk", "v")

MIN_V, MAX_V = 0.0, 4.0
MID = (MIN_V + MAX_V) / 2.0


def _rows():
    """6 pids, each contributing to partitions A and B (n_partitions=2)
    with differing counts and values (all within [MIN_V, MAX_V])."""
    rows = []
    rng = np.random.RandomState(7)
    for u in range(6):
        for pk in ("A", "B"):
            cnt = 1 + (u + (pk == "B")) % 4        # 1..4 rows
            for j in range(cnt):
                v = float(np.round(rng.uniform(MIN_V, MAX_V), 3))
                rows.append((u, pk, v))
    return rows


def _per_pid_stats(rows, pk):
    """pid -> (count, sum, sum_sq) raw moments within partition pk."""
    out = {}
    for (u, p, v) in rows:
        if p != pk:
            continue
        c, s, q = out.get(u, (0, 0.0, 0.0))
        out[u] = (c + 1, s + v, q + v * v)
    return out


def _enumerate_error_moments(contribs):
    """contribs: list of (true_vec, kept_vec) per pid; independent keep
    with p=0.5 each (l0=1, n_partitions=2). Returns (E[err_vec],
    E[outer err]) where err = sum(kept or 0) - sum(true), exactly."""
    n = len(contribs)
    dim = len(contribs[0][0])
    true_total = np.sum([t for t, _ in contribs], axis=0)
    e1 = np.zeros(dim)
    e2 = np.zeros((dim, dim))
    for keep in itertools.product([0, 1], repeat=n):
        prob = 0.5 ** n
        tot = np.zeros(dim)
        for k, (_, kept) in zip(keep, contribs):
            if k:
                tot += kept
        err = tot - true_total
        e1 += prob * err
        e2 += prob * np.outer(err, err)
    return e1, e2


def test_count_sum_error_moments_vs_enumeration(spark):
    rows = _rows()
    df = spark.createDataFrame(rows, "uid int, pk string, v double")
    eps, linf = 2.0, 2
    min_sum, max_sum = 0.0, 5.0

    params = AggregateParams(metrics=[Metrics.COUNT, Metrics.SUM],
                             max_partitions_contributed=1,
                             max_contributions_per_partition=1,
                             min_value=MIN_V, max_value=MAX_V)
    conf = A.MultiParameterConfiguration(
        max_partitions_contributed=[1],
        max_contributions_per_partition=[linf],
        min_sum_per_partition=[min_sum],
        max_sum_per_partition=[max_sum])
    rep = A.UtilityAnalysisEngine(epsilon=eps, delta=0.0).analyze(
        df, params, EXT, conf, public_partitions=["A", "B"])[0]

    # Engine budget split: eps / n_metrics per mechanism, public partitions.
    eps_m = eps / 2
    cnt_std = dp.noise_std(NoiseKind.LAPLACE, eps_m, 0.0,
                           dp.Sensitivities(l0=1, linf=float(linf)))
    # sum clip is per-partition: Linf = max(|min_sum|, |max_sum|)
    sum_std = dp.noise_std(NoiseKind.LAPLACE, eps_m, 0.0,
                           dp.sum_sensitivities(1, None, None, None,
                                                min_sum, max_sum))

    rmse2_cnt, rmse2_sum, bias_cnt, bias_sum = [], [], [], []
    for pk in ("A", "B"):
        stats = _per_pid_stats(rows, pk)
        contribs = []
        for (c, s, _q) in stats.values():
            kept_c = min(c, linf)
            kept_s = min(max(s, min_sum), max_sum)
            contribs.append((np.array([c, s], float),
                             np.array([kept_c, kept_s], float)))
        e1, e2 = _enumerate_error_moments(contribs)
        rmse2_cnt.append(e2[0, 0] + cnt_std ** 2)
        rmse2_sum.append(e2[1, 1] + sum_std ** 2)
        bias_cnt.append(abs(e1[0]))
        bias_sum.append(abs(e1[1]))

    errors = {m.metric.value: m for m in rep.metric_errors}
    assert errors["count"].rmse == pytest.approx(
        math.sqrt(np.mean(rmse2_cnt)), rel=1e-9)
    assert errors["count"].expected_abs_bias == pytest.approx(
        np.mean(bias_cnt), rel=1e-9)
    assert errors["sum"].rmse == pytest.approx(
        math.sqrt(np.mean(rmse2_sum)), rel=1e-9)
    assert errors["sum"].expected_abs_bias == pytest.approx(
        np.mean(bias_sum), rel=1e-9)


def test_variance_error_moments_vs_enumeration(spark):
    """The VARIANCE delta-method error: linearized moments must match the
    exact enumeration (the engine carries the full (C, S, Q) sampling
    covariance, so this is equality up to float error, not approximation)."""
    rows = _rows()
    df = spark.createDataFrame(rows, "uid int, pk string, v double")
    eps, linf = 3.0, 2
    half = (MAX_V - MIN_V) / 2.0

    params = AggregateParams(metrics=[Metrics.VARIANCE],
                             max_partitions_contributed=1,
                             max_contributions_per_partition=1,
                             min_value=MIN_V, max_value=MAX_V)
    conf = A.MultiParameterConfiguration(
        max_partitions_contributed=[1],
        max_contributions_per_partition=[linf])
    rep = A.UtilityAnalysisEngine(epsilon=eps, delta=0.0).analyze(
        df, params, EXT, conf, public_partitions=["A", "B"])[0]

    eps3 = eps / 3.0  # single metric, public partitions -> eps_m = eps
    stds = [
        dp.noise_std(NoiseKind.LAPLACE, eps3, 0.0,
                     dp.Sensitivities(l0=1, linf=float(linf))),
        dp.noise_std(NoiseKind.LAPLACE, eps3, 0.0,
                     dp.Sensitivities(l0=1, linf=linf * half)),
        dp.noise_std(NoiseKind.LAPLACE, eps3, 0.0,
                     dp.Sensitivities(l0=1, linf=linf * half * half)),
    ]

    rmse2, biases = [], []
    for pk in ("A", "B"):
        stats = _per_pid_stats(rows, pk)
        contribs = []
        for (c, s, q) in stats.values():
            # normalized moments around MID
            ns = s - c * MID
            nq = q - 2 * MID * s + c * MID * MID
            ratio = min(c, linf) / c
            contribs.append((np.array([c, ns, nq], float),
                             np.array([c, ns, nq], float) * ratio))
        C = sum(t[0] for t, _ in contribs)
        S = sum(t[1] for t, _ in contribs)
        Q = sum(t[2] for t, _ in contribs)
        grad = np.array([-Q / C ** 2 + 2 * S * S / C ** 3,
                         -2 * S / C ** 2,
                         1.0 / C])
        e1, e2 = _enumerate_error_moments(contribs)
        bias = grad @ e1
        second = grad @ e2 @ grad           # E[(g . err)^2], exact
        noise_var = sum((g * s_) ** 2 for g, s_ in zip(grad, stds))
        rmse2.append(second + noise_var)
        biases.append(abs(bias))

    err = rep.metric_errors[0]
    assert err.rmse == pytest.approx(math.sqrt(np.mean(rmse2)), rel=1e-9)
    assert err.expected_abs_bias == pytest.approx(np.mean(biases), rel=1e-9)
    assert err.noise_std == pytest.approx(stds[2], rel=1e-9)


def test_variance_rmse_predicts_monte_carlo(spark):
    """Sanity: in a no-sampling regime (l0 >= n_partitions, no clipping)
    the reported VARIANCE rmse should predict the observed error of the
    actual nonlinear noisy estimator within ~15%."""
    rng = np.random.RandomState(3)
    rows = []
    vals = {}
    for u in range(6):
        vs = np.round(rng.uniform(MIN_V, MAX_V, size=50), 3)
        vals[u] = vs
        rows += [(u, "A", float(v)) for v in vs]
    df = spark.createDataFrame(rows, "uid int, pk string, v double")
    # eps large enough that the count noise is small relative to C=300:
    # the delta method linearizes around the true moments, so the
    # comparison is only meaningful when (C + noise) stays far from 0.
    eps, linf = 20.0, 50

    params = AggregateParams(metrics=[Metrics.VARIANCE],
                             max_partitions_contributed=1,
                             max_contributions_per_partition=1,
                             min_value=MIN_V, max_value=MAX_V)
    conf = A.MultiParameterConfiguration(
        max_partitions_contributed=[1],
        max_contributions_per_partition=[linf])
    rep = A.UtilityAnalysisEngine(epsilon=eps, delta=0.0).analyze(
        df, params, EXT, conf, public_partitions=["A"])[0]

    all_v = np.concatenate(list(vals.values())) - MID
    C, S, Q = float(len(all_v)), float(all_v.sum()), float((all_v ** 2).sum())
    f_true = Q / C - (S / C) ** 2
    eps3 = eps / 3.0
    half = (MAX_V - MIN_V) / 2.0
    scales = [linf / eps3, linf * half / eps3, linf * half * half / eps3]
    trials = 200_000
    nC = rng.laplace(0, scales[0], trials)
    nS = rng.laplace(0, scales[1], trials)
    nQ = rng.laplace(0, scales[2], trials)
    est = (Q + nQ) / (C + nC) - ((S + nS) / (C + nC)) ** 2
    mc_rmse = float(np.sqrt(np.mean((est - f_true) ** 2)))
    assert rep.metric_errors[0].rmse == pytest.approx(mc_rmse, rel=0.15)


def test_variance_warns_on_out_of_range_values(spark):
    """Per-value clipping is not modeled by VARIANCE utility analysis
    (preaggregate carries only sums); the engine must warn when raw
    values fall outside [min_value, max_value], and stay silent when
    they don't."""
    import warnings as W
    params = AggregateParams(metrics=[Metrics.VARIANCE],
                             max_partitions_contributed=1,
                             max_contributions_per_partition=2,
                             min_value=MIN_V, max_value=MAX_V)
    conf = A.MultiParameterConfiguration(
        max_partitions_contributed=[1],
        max_contributions_per_partition=[2])
    eng = A.UtilityAnalysisEngine(epsilon=3.0, delta=0.0)

    out_of_range = spark.createDataFrame(
        [(1, "A", 1.0), (2, "A", MAX_V + 5.0)],
        "uid int, pk string, v double")
    with pytest.warns(UserWarning, match="assumes values lie in"):
        eng.analyze(out_of_range, params, EXT, conf,
                    public_partitions=["A"])

    in_range = spark.createDataFrame(
        [(1, "A", 1.0), (2, "A", MAX_V)], "uid int, pk string, v double")
    with W.catch_warnings():
        W.simplefilter("error", UserWarning)
        eng.analyze(in_range, params, EXT, conf, public_partitions=["A"])
