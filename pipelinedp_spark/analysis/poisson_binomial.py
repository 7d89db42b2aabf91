"""Poisson-binomial machinery for the partition keep probability.

Reference semantics: analysis/poisson_binomial.py:26-83 -- the number of
privacy ids that survive cross-partition L0 sampling in a partition is
Poisson-binomial (each id kept independently with its own probability
p_i = min(1, l0 / n_partitions_i)); the partition's keep probability is
the expectation of the keep rule's P(keep | n) over that distribution,
NOT P(keep | expected count) (that shortcut is biased exactly for small
partitions, where selection matters). The keep rule comes from the engine
(``dp_engine.KeepRule.keep_probabilities``) as a vector indexed by n.

Two PMFs, as in the reference: an exact O(n^2) probability-generating-
function convolution for small n / tests, and the refined normal
approximation (normal CDF + skewness correction, Hong 2013 §3.3) from the
first three moments -- which is what the Spark path uses, because the
moments are plain per-partition SUM aggregates.
"""

from __future__ import annotations

import math
from typing import Sequence, Tuple

import numpy as np

_SQRT2PI = math.sqrt(2.0 * math.pi)


def compute_pmf(probabilities: Sequence[float]) -> np.ndarray:
    """Exact Poisson-binomial PMF over {0..n} via PGF convolution."""
    pmf = np.array([1.0])
    for p in probabilities:
        nxt = np.zeros(len(pmf) + 1)
        nxt[:-1] = pmf * (1.0 - p)
        nxt[1:] += pmf * p
        pmf = nxt
    return pmf


def moments(probabilities: Sequence[float]) -> Tuple[float, float, float]:
    """(mean, variance, third central moment) of the Poisson binomial."""
    p = np.asarray(probabilities, dtype=float)
    v = p * (1.0 - p)
    return float(p.sum()), float(v.sum()), float((v * (1.0 - 2.0 * p)).sum())


def _refined_normal_cdf(x: np.ndarray, skewness: float) -> np.ndarray:
    """G(x) = Phi(x) + skew * (1 - x^2) * phi(x) / 6 (Hong 2013 §3.3)."""
    phi_pdf = np.exp(-0.5 * x * x) / _SQRT2PI
    cdf = 0.5 * (1.0 + np.vectorize(math.erf)(x / math.sqrt(2.0)))
    return np.clip(cdf + skewness * (1.0 - x * x) * phi_pdf / 6.0, 0.0, 1.0)


def _at(keep: np.ndarray, k) -> np.ndarray:
    """keep[k], the last entry holding for larger k."""
    return keep[np.minimum(np.asarray(k, dtype=np.int64), len(keep) - 1)]


def keep_probability(mean: float, var: float, m3: float, n: int,
                     keep: np.ndarray) -> float:
    """E_{N ~ PoissonBinomial}[ keep[N] ] using the refined-normal PMF
    from (mean, var, m3); ``keep[k]`` = P(keep | k privacy ids). `n` caps
    the support."""
    sigma = math.sqrt(max(var, 0.0))
    if sigma == 0.0:
        return float(_at(keep, round(mean)))
    skew = m3 / sigma ** 3
    start = max(0, int(math.floor(mean - 8.0 * sigma)))
    end = min(int(n), int(round(mean + 8.0 * sigma)))
    if end < start:
        end = start
    ks = np.arange(start, end + 1)
    edges = np.arange(start - 1, end + 1) + 0.5
    cdf = _refined_normal_cdf((edges - mean) / sigma, skew)
    # renormalize the truncated window so tail clipping never loses mass
    pmf = np.diff(cdf)
    total = pmf.sum()
    if total <= 0:
        return float(_at(keep, round(mean)))
    pmf /= total
    return float(np.dot(pmf, _at(keep, ks)))


def keep_probability_exact(probabilities: Sequence[float],
                           keep: np.ndarray) -> float:
    """Brute-force expectation with the exact PMF (tests / small n)."""
    pmf = compute_pmf(probabilities)
    return float(np.dot(pmf, _at(keep, np.arange(len(pmf)))))
