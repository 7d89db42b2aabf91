"""Poisson-binomial keep-probability vs brute-force expectation
(reference pattern: analysis/tests/per_partition_combiners_test.py)."""

import math

import numpy as np
import pytest

from pipelinedp_spark.aggregate_params import NoiseKind
from pipelinedp_spark.analysis import poisson_binomial as pb
from pipelinedp_spark.dp_engine import KeepRule, NoiseDraw

pytestmark = pytest.mark.analysis


def _laplace(scale, threshold):
    """P(keep | n) of Laplace(scale) thresholding at ``threshold``."""
    return KeepRule(noise=NoiseDraw(NoiseKind.LAPLACE, scale),
                    threshold=threshold).keep_probabilities()


def test_exact_pmf_binomial_case():
    # all p equal -> plain binomial
    pmf = pb.compute_pmf([0.3] * 5)
    from math import comb
    want = [comb(5, k) * 0.3 ** k * 0.7 ** (5 - k) for k in range(6)]
    assert np.allclose(pmf, want, atol=1e-12)


def test_exact_pmf_heterogeneous_sums_to_one():
    rng = np.random.default_rng(1)
    ps = rng.uniform(0, 1, 30)
    pmf = pb.compute_pmf(ps)
    assert pmf.sum() == pytest.approx(1.0, abs=1e-12)
    mean, var, m3 = pb.moments(ps)
    ks = np.arange(len(pmf))
    assert np.dot(pmf, ks) == pytest.approx(mean, abs=1e-9)
    assert np.dot(pmf, (ks - mean) ** 2) == pytest.approx(var, abs=1e-9)
    assert np.dot(pmf, (ks - mean) ** 3) == pytest.approx(m3, abs=1e-9)


@pytest.mark.parametrize("n,scale,threshold", [
    (10, 2.0, 4.0),     # small partition near the threshold
    (40, 2.0, 8.0),     # mid-size
    (200, 5.0, 30.0),   # larger, heavier noise
])
def test_keep_probability_matches_exact_expectation(n, scale, threshold):
    rng = np.random.default_rng(n)
    ps = rng.uniform(0.05, 1.0, n)
    mean, var, m3 = pb.moments(ps)
    keep = _laplace(scale, threshold)
    want = pb.keep_probability_exact(ps, keep)
    got = pb.keep_probability(mean, var, m3, n, keep)
    assert got == pytest.approx(want, abs=2e-3)


def test_keep_probability_beats_cdf_at_mean_for_small_partitions():
    """The whole point: for a small partition the Laplace-CDF-at-the-mean
    shortcut is measurably biased; the Poisson-binomial expectation is
    not."""
    ps = [0.5] * 6          # mean 3, substantial spread
    scale, threshold = 1.0, 4.0
    keep = _laplace(scale, threshold)
    exact = pb.keep_probability_exact(ps, keep)
    mean, var, m3 = pb.moments(ps)
    ours = pb.keep_probability(mean, var, m3, len(ps), keep)
    d = (mean - threshold) / scale
    at_mean = 1.0 - 0.5 * math.exp(-d) if d >= 0 else 0.5 * math.exp(d)
    assert abs(ours - exact) < abs(at_mean - exact) / 3
    assert ours == pytest.approx(exact, abs=5e-3)


def test_keep_probability_degenerate_cases():
    # deterministic count (all p == 1)
    assert pb.keep_probability(5.0, 0.0, 0.0, 5, _laplace(1.0, 3.0)) == \
        pytest.approx(1.0 - 0.5 * math.exp(-2.0))
    # a step keep vector (no noise) on a deterministic count
    step = np.array([0.0, 0.0, 0.0, 1.0])
    assert pb.keep_probability(5.0, 0.0, 0.0, 5, step) == 1.0
    assert pb.keep_probability(2.0, 0.0, 0.0, 5, step) == 0.0


def test_monte_carlo_cross_check():
    rng = np.random.default_rng(42)
    ps = rng.uniform(0.1, 0.9, 25)
    scale, threshold = 3.0, 10.0
    draws = 200_000
    counts = (rng.uniform(size=(draws, len(ps))) < ps).sum(axis=1)
    noisy = counts + rng.laplace(0.0, scale, size=draws)
    mc = float((noisy >= threshold).mean())
    mean, var, m3 = pb.moments(ps)
    got = pb.keep_probability(mean, var, m3, len(ps),
                              _laplace(scale, threshold))
    assert got == pytest.approx(mc, abs=5e-3)
