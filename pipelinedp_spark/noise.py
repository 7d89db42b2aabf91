"""Noise column generators.

Secure noise is drawn in the JVM, as Catalyst expressions over one
uniform generator: ``reflect('org.apache.commons.lang3.RandomUtils',
'nextDouble', 0.0D, 1.0D)``. In the commons-lang3 that Spark bundles
(3.19.0) that static method draws from ``RandomUtils.secure()``, a
``java.security.SecureRandom`` seeded from OS entropy (``NativePRNG`` on
Linux). The reflection call is a ``Nondeterministic`` expression: Catalyst
neither duplicates it nor pushes a predicate through the projection that
holds it, so a thresholded value and its released value are one draw.
``F.rand(seed)`` / ``F.randn(seed)`` are not used: their seed is written
into the plan and the event log, so anyone who reads either can regenerate
the noise and subtract it. No seed appears here, and a retried task draws
fresh noise.

Laplace takes one uniform per draw, Gaussian two (Box-Muller), truncated
geometric selection one per key. A uniform costs a reflective call, a
``SecureRandom`` step and a string round trip; ``NativePRNG`` serializes
its callers. Over 1e6 rows (``local[2]``, 4-core host) a Laplace draw
took 1.6 us per row and a Gaussian one 2.8 us. Noise is applied AFTER
aggregation (one row per partition key), so a 20k-key release pays a few
hundredths of a second per noised column, and no Python worker is started
for it.

A zero-noise source provides the deterministic mode used by tests and the
DuckDB oracle (mirrors how the reference mocks ``add_noise``; reference:
tests/combiners_test.py:266).
"""

from __future__ import annotations

import json

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

# The one uniform source, as SQL: ``nextDouble(0, 1)`` draws from
# ``RandomUtils.secure()`` (a ``SecureRandom``) in [0, 1), on the grid
# k * 2^-53. Every occurrence of the text in a plan is a separate draw. The
# draws are built as SQL text: one ``F.expr`` call is one Py4J round trip,
# where the same expression built with Column functions takes ~100 (~45 ms
# of plan-building time per Laplace draw).
_RANDOM_UTILS = "org.apache.commons.lang3.RandomUtils"
_UNIFORM = (f"cast(reflect('{_RANDOM_UTILS}', 'nextDouble', 0.0D, 1.0D) "
            "as double)")


def _laplace_of(u: str) -> str:
    """numpy's ``random_laplace`` rule for a unit scale, reading the uniform
    ``u`` once (bound as the lambda variable); null at u = 0 (Spark's
    ``ln(0)``), the draw numpy rejects."""
    return (f"transform(array({u}), u -> CASE WHEN u < 0.5D THEN ln(2.0D * u)"
            " ELSE -ln(2.0D - 2.0D * u) END)[0]")


# u = 0 is redrawn, as numpy does (``coalesce`` evaluates the redraw only
# then); a second zero (probability 2^-106) takes the smallest positive
# uniform, so no draw is null.
_LAPLACE = (f"coalesce({_laplace_of(_UNIFORM)}, "
            f"{_laplace_of(f'greatest({_UNIFORM}, pow(2.0D, -53))')})")
# Box-Muller on two independent uniforms; 1 - u lies in (0, 1].
_GAUSSIAN = (f"sqrt(-2.0D * ln(1.0D - {_UNIFORM})) "
             f"* cos(2.0D * pi() * {_UNIFORM})")


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
    """Production noise: Catalyst expressions over the JVM's
    ``SecureRandom`` (see the module docstring)."""

    def laplace(self, scale: float) -> Column:
        return F.lit(float(scale)) * F.expr(_LAPLACE)

    def gaussian(self, sigma: float) -> Column:
        return F.lit(float(sigma)) * F.expr(_GAUSSIAN)

    def geometric_keep(self, count_col: Column, probs: np.ndarray) -> Column:
        # One array literal, built from its JSON text: ``F.lit`` of a numpy
        # array makes one Py4J call per entry (seconds at 1e5 entries).
        # ``repr`` round-trips each double exactly; the optimizer folds
        # ``from_json`` of a literal into a literal.
        vec = F.from_json(
            F.lit(json.dumps([float(p) for p in probs])), "array<double>")
        idx = F.least(F.greatest(count_col, F.lit(0)), F.lit(len(probs) - 1))
        return F.expr(_UNIFORM) < F.element_at(vec, idx.cast("int") + 1)


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
