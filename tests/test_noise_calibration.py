"""Statistical calibration of the noise MECHANISMS themselves (r9):
the e2e suites verify near-exactness at huge epsilon, but nothing
pinned the noise *distribution*. Each test draws ~10^6 samples through
the real SecureNoiseSource Catalyst expressions (JVM ``SecureRandom``
uniforms) and runs a
Kolmogorov-Smirnov (continuous mechanisms) or binomial (selection
keep-probabilities) test against the closed form — plus a MUTATION
check inside the test: the same statistic must REJECT an injected 1.1x
scale bug, so the test provably has the power it claims. Every draw
must also be finite and non-null: Spark's ``ln(0)`` is null, and a
released value must never be.

alpha = 1e-5 (KS critical value c = sqrt(-ln(alpha/2)/2) ~ 2.47, i.e.
D_crit ~ 0.00247 at n = 10^6) — far below the ~0.018-0.023 max-CDF-gap
a 1.1x scale error produces, so the tests are simultaneously
non-flaky and sharp. No scipy: the KS statistic and both CDFs are a
few lines of numpy/math."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from pipelinedp_spark import noise
from pipelinedp_spark.noise import SecureNoiseSource

pytestmark = pytest.mark.dp

N = 1_000_000
KS_CRIT = math.sqrt(-math.log(1e-5 / 2.0) / 2.0) / math.sqrt(N)


def _samples(spark, col) -> np.ndarray:
    df = spark.range(N).select(col.alias("x"))
    x = [r["x"] for r in df.collect()]
    assert len(x) == N and None not in x
    x = np.array(x, dtype=np.float64)
    assert np.isfinite(x).all()
    return x


def _ks(samples: np.ndarray, cdf) -> float:
    s = np.sort(samples)
    grid = cdf(s)
    n = len(s)
    ecdf_hi = np.arange(1, n + 1) / n
    ecdf_lo = np.arange(0, n) / n
    return max(np.abs(ecdf_hi - grid).max(),
               np.abs(grid - ecdf_lo).max())


def test_laplace_noise_is_calibrated(spark):
    scale = 2.5
    x = _samples(spark, SecureNoiseSource().laplace(scale))

    def cdf(v, b=scale):
        return np.where(v < 0, 0.5 * np.exp(v / b),
                        1.0 - 0.5 * np.exp(-v / b))

    assert _ks(x, cdf) < KS_CRIT
    # mutation power: the same samples must FAIL against a 1.1x-scale
    # closed form (i.e. the test would catch a 1.1x bug in the source)
    assert _ks(x, lambda v: cdf(v, 1.1 * scale)) > 4 * KS_CRIT


def test_gaussian_noise_is_calibrated(spark):
    sigma = 3.0
    x = _samples(spark, SecureNoiseSource().gaussian(sigma))

    def cdf(v, s=sigma):
        from numpy import vectorize
        erf = vectorize(math.erf)
        return 0.5 * (1.0 + erf(v / (s * math.sqrt(2.0))))

    assert _ks(x, cdf) < KS_CRIT
    assert _ks(x, lambda v: cdf(v, 1.1 * sigma)) > 4 * KS_CRIT


def _keep_rate(spark, probs: np.ndarray, n: int, n_draws: int) -> float:
    """Empirical keep frequency of ``geometric_keep`` at count ``n``; no
    decision may be null."""
    keep = SecureNoiseSource().geometric_keep(F.lit(n).cast("long"), probs)
    got = dict(spark.range(n_draws).select(keep.alias("k"))
               .groupBy("k").count().collect())
    assert None not in got and sum(got.values()) == n_draws, got
    return got.get(True, 0) / n_draws


def _check_keep_matches_closed_form(spark, probs: np.ndarray) -> None:
    # pick the count whose keep probability is nearest 0.5 — where the
    # binomial variance (and the test's discrimination) peaks
    n_star = int(np.argmin(np.abs(probs - 0.5)))
    p = float(probs[n_star])
    assert 0.2 < p < 0.8
    n_draws = 400_000
    p_hat = _keep_rate(spark, probs, n_star, n_draws)
    band = 5.0 * math.sqrt(p * (1 - p) / n_draws)   # ~0.004
    assert abs(p_hat - p) < band
    # mutation power: a 1.1x-probability bug shifts p_hat by 0.1*p —
    # far outside the band, so this assertion would catch it
    assert 0.1 * p > 2 * band


def test_truncated_geometric_keep_matches_closed_form(spark):
    """Empirical keep frequency at a fixed privacy-id count must match
    `truncated_geometric_probabilities`' closed form to binomial
    precision — and the acceptance band must be tight enough to reject
    a 1.1x probability bug."""
    from pipelinedp_spark.dp_computations import \
        truncated_geometric_probabilities

    _check_keep_matches_closed_form(
        spark, truncated_geometric_probabilities(eps=1.0, delta=1e-4, l0=1))


def test_truncated_geometric_keep_long_vector(spark):
    """A small epsilon gives a keep vector of more than 1000 entries (one
    array literal in the plan): the draw reads the entry of its count, and
    counts past the end read the last entry (1.0)."""
    from pipelinedp_spark.dp_computations import \
        truncated_geometric_probabilities

    probs = truncated_geometric_probabilities(eps=0.01, delta=1e-5, l0=1)
    assert len(probs) > 1000 and probs[0] == 0.0 and probs[-1] == 1.0
    _check_keep_matches_closed_form(spark, probs)
    assert _keep_rate(spark, probs, 0, 10_000) == 0.0
    assert _keep_rate(spark, probs, 10 * len(probs), 10_000) == 1.0


def test_uniform_source_is_a_secure_random(spark):
    """The draws read ``RandomUtils.nextDouble``, which draws from
    ``RandomUtils.secure()``; a commons-lang3 whose ``secure()`` is not a
    ``java.security.SecureRandom`` must fail here, not release noise."""
    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    utils = getattr(jvm, noise._RANDOM_UTILS).secure()
    random = utils.getClass().getDeclaredMethod(
        "random", gw.new_array(jvm.java.lang.Class, 0))
    random.setAccessible(True)
    gen = random.invoke(utils, gw.new_array(jvm.java.lang.Object, 0))
    assert jvm.java.lang.Class.forName("java.security.SecureRandom") \
        .isInstance(gen), gen.getClass().getName()
    assert noise._RANDOM_UTILS in noise._UNIFORM


def test_zero_mode_is_exactly_zero(spark):
    from pipelinedp_spark.noise import ZeroNoiseSource

    z = ZeroNoiseSource()
    df = spark.range(100).select(
        (F.lit(7.0) + z.laplace(9.9)).alias("a"),
        (F.lit(7.0) + z.gaussian(9.9)).alias("b"))
    rows = df.collect()
    assert all(r["a"] == 7.0 and r["b"] == 7.0 for r in rows)
