"""Noise column generators.

DP noise must be fresh and unseeded; Spark's ``F.rand()``/``F.randn()`` are
seeded per-partition and replay on task retry, so secure noise is drawn in
Arrow-batched pandas UDFs from ``numpy.random.default_rng()`` (OS entropy per
batch). A zero-noise source provides the deterministic mode used by tests and
the DuckDB oracle (mirrors how the reference mocks ``add_noise``; reference:
tests/combiners_test.py:266).

Noise is applied AFTER aggregation (one row per partition key), so the
per-row cost is small, but each Python-worker task pays a fixed ~0.2 s of
CPU before its first row (PySpark's worker setup calls
``importlib.invalidate_caches()``; under Python 3.11 each of ~16
zipimporters then re-reads the directory of ``pyspark.zip``). Secure noise
measured 0.28 s of a ~1 s deep release and 0.25 s of a ~1.5 s wide one
(4-core host), so on small releases that fixed cost is not negligible.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, DoubleType


class NoiseSource:
    """Interface: produce noise Columns / selection Columns."""

    def laplace(self, scale: float) -> Column:
        raise NotImplementedError

    def gaussian(self, sigma: float) -> Column:
        raise NotImplementedError

    def add_noise(self, col: Column, kind: str, scale: float) -> Column:
        if scale == 0:
            return col
        noise = self.laplace(scale) if kind == "laplace" else \
            self.gaussian(scale)
        return col + noise

    def geometric_keep(self, count_col: Column, probs: np.ndarray) -> Column:
        """Boolean keep decision for truncated-geometric partition selection,
        given the exact privacy-id count column and the keep probabilities
        P(keep | n) = probs[n] (index clamps at the top: probs[-1] ==
        1.0; ``dp_engine.KeepRule.keep_probabilities``)."""
        raise NotImplementedError


class SecureNoiseSource(NoiseSource):
    """Production noise: OS-entropy numpy RNG inside vectorized pandas UDFs."""

    def laplace(self, scale: float) -> Column:
        @F.pandas_udf(DoubleType())
        def _noise(v: pd.Series) -> pd.Series:
            rng = np.random.default_rng()
            return pd.Series(rng.laplace(0.0, scale, size=len(v)))

        # Nondeterministic so Catalyst never duplicates the draw (e.g. by
        # pushing a threshold predicate through the projection) or collapses
        # two draws into one — either would break the DP guarantee by
        # decoupling the released value from the thresholded value.
        return _noise.asNondeterministic()(F.lit(0.0))

    def gaussian(self, sigma: float) -> Column:
        @F.pandas_udf(DoubleType())
        def _noise(v: pd.Series) -> pd.Series:
            rng = np.random.default_rng()
            return pd.Series(rng.normal(0.0, sigma, size=len(v)))

        return _noise.asNondeterministic()(F.lit(0.0))

    def geometric_keep(self, count_col: Column, probs: np.ndarray) -> Column:
        # probs is closure-captured; small (reaches 1.0 quickly)
        @F.pandas_udf(BooleanType())
        def _keep(n: pd.Series) -> pd.Series:
            rng = np.random.default_rng()
            idx = np.clip(n.to_numpy(dtype=np.int64), 0, len(probs) - 1)
            u = rng.random(len(n))
            return pd.Series(u < probs[idx])

        return _keep.asNondeterministic()(count_col)


class ZeroNoiseSource(NoiseSource):
    """Deterministic mode: zero noise; geometric selection keeps iff
    p[n] >= 0.5."""

    def laplace(self, scale: float) -> Column:
        return F.lit(0.0)

    def gaussian(self, sigma: float) -> Column:
        return F.lit(0.0)

    def geometric_keep(self, count_col: Column, probs: np.ndarray) -> Column:
        # First n whose keep-probability reaches 0.5 — deterministic cutover.
        above = np.nonzero(probs >= 0.5)[0]
        return count_col >= F.lit(int(above[0]) if len(above) else len(probs))


def create_noise_source(mode: str = "secure") -> NoiseSource:
    if mode == "secure":
        return SecureNoiseSource()
    if mode == "zero":
        return ZeroNoiseSource()
    raise ValueError(f"unknown noise mode: {mode}")
